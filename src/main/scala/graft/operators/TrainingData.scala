package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Parquets, Tables}
import graft.functions.TextFunctions

/** Training-data pipeline operators the reference's ETL never needed but a
  * 100 TB corpus build does: reproducible mixture sampling and token-budget
  * sequence packing. Both are deterministic by construction — a re-run (or
  * a backfill over one shard) reproduces byte-identical decisions, which is
  * the property that makes them safe to run incrementally at scale.
  *
  * Scale design:
  *  - [[mixtureSample]] is a stateless map-side filter on a seeded hash of
  *    the document id: no shuffle, no global count, no coordination. The
  *    alternative — rank-based sampling (`ORDER BY random() LIMIT n`) —
  *    needs a global sort AND changes every row's fate when the corpus
  *    grows; hash-threshold sampling keeps prior members stable, so a
  *    nightly incremental run only decides the NEW rows.
  *  - [[packAssignments]] is concat-and-chunk packing (the standard
  *    pretraining batch construction): one cumulative sum per
  *    (stratum, shard) stream. The shard key bounds the window sort — at
  *    1000 executors you raise `shards` so each stream's token ledger fits
  *    one task, and packs never cross shards, so parallelism costs no
  *    packing quality beyond one partial tail pack per stream.
  */
object TrainingData {

  /** Deterministic uniform bucket in [0, 2^32) from a seeded md5 of the
    * id — the same 8-hex-digit prefix read as an unsigned int on both
    * engines, so sampling decisions are exact integer compares (no float
    * rounding surface). */
  def hashBucket(id: Column, seed: String): Column =
    conv(substring(md5(concat(lit(seed + ":"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** Production twin of [[hashBucket]]: the same uniform [0, 2^32) bucket
    * from a seeded xxhash64 — one codegen'd 64-bit hash per row instead of
    * a 128-bit md5 plus hex/conv round-trip (md5-per-row is the 100 TB
    * sampler's only avoidable cost; the md5 form stays as the
    * oracle-reproducible reference). `pmod` folds the signed 64-bit hash
    * into the same unsigned 32-bit bucket space, so [[rateThreshold]]
    * compares work unchanged. */
  def hashBucketXxh(id: Column, seed: String): Column =
    pmod(xxhash64(concat(lit(seed + ":"), id.cast("string"))), lit(4294967296L))

  /** The integer threshold a rate maps to: keep iff bucket < floor(rate·2³²). */
  def rateThreshold(rate: Double): Long = (rate * 4294967296.0).toLong

  /** Weighted mixture sampling: keep each row of stratum s with
    * probability rates(s), decided by the seeded id hash (`bucketFn`:
    * [[hashBucket]] = oracle-reproducible md5 form, [[hashBucketXxh]] =
    * production form — same decision semantics, different hash family).
    * Strata absent from `rates` are dropped (threshold -1). Adds `bucket`
    * so callers (and the oracle) can audit the decision. */
  def mixtureSample(docs: DataFrame, idCol: String, strataCol: String,
                    rates: Map[String, Double], seed: String,
                    bucketFn: (Column, String) => Column = hashBucket): DataFrame = {
    val thr = rates.foldLeft(lit(-1L)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(rateThreshold(r))).otherwise(acc)
    }
    docs.withColumn("bucket", bucketFn(col(idCol), seed))
      .filter(col("bucket") < thr)
  }

  /** Deterministic UPSAMPLING — the epoch-weighting half of mixture
    * construction that [[mixtureSample]] (rates ≤ 1) cannot express: a
    * stratum rate r means every document appears floor(r) times, plus
    * one more copy with probability frac(r), decided by the same seeded
    * id hash as sampling. Rates below 1 degenerate to sampling (floor
    * 0 + fractional keep), so one operator covers the whole mixture
    * weight line a pretraining recipe specifies ("2.5 epochs of books,
    * 0.3 of web"). Adds `bucket`, `n_copies`, and `copy` (1-based copy
    * index — downstream packing can use (id, copy) as the unique order
    * key so repeated copies spread deterministically).
    *
    * Scale: same shape as [[mixtureSample]] — a stateless map-side
    * decision per row, then a bounded explode (≤ ceil(r) rows out per
    * row in); no shuffle, no coordination, and the same
    * incremental-stability property (a re-run or sub-corpus run
    * reproduces exactly the copies of the rows it sees). */
  def upsampleMixture(docs: DataFrame, idCol: String, strataCol: String,
                      rates: Map[String, Double], seed: String,
                      bucketFn: (Column, String) => Column = hashBucket): DataFrame = {
    require(rates.values.forall(_ >= 0.0), s"rates must be >= 0: $rates")
    val whole = rates.foldLeft(lit(0L)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(r.toLong)).otherwise(acc)
    }
    val fracThr = rates.foldLeft(lit(0L)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(rateThreshold(r - r.toLong))).otherwise(acc)
    }
    docs.withColumn("bucket", bucketFn(col(idCol), seed))
      .withColumn("n_copies",
        whole + when(col("bucket") < fracThr, 1L).otherwise(0L))
      .filter(col("n_copies") > 0L)
      .withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
  }

  /** Deterministic stratum-free TRAIN/VAL/TEST split by hash range:
    * `fractions` are the per-split weights (normalized internally); a
    * document's seeded bucket lands in exactly one cumulative range, so
    * splits are disjoint, exhaustive, and stable under corpus growth —
    * the property that keeps yesterday's held-out set held out after an
    * incremental ingest (a rank- or random()-based split leaks rows
    * across the boundary whenever the corpus changes). Returns the
    * input plus `bucket` and `split` (0-based index into `fractions`).
    *
    * Scale: stateless map-side label per row; no shuffle. */
  def hashSplit(docs: DataFrame, idCol: String, fractions: Seq[Double],
                seed: String,
                bucketFn: (Column, String) => Column = hashBucket): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_ > 0.0),
      s"fractions must be positive: $fractions")
    val total = fractions.sum
    // cumulative integer thresholds in the same [0, 2^32) bucket space;
    // the last is forced to 2^32 so rounding can never orphan a bucket
    val cuts = fractions.scanLeft(0.0)(_ + _).tail
      .map(c => rateThreshold(c / total)).dropRight(1) :+ 4294967296L
    val bucket = col("bucket")
    val split = cuts.zipWithIndex.reverse.foldLeft(lit(cuts.size - 1)) {
      case (acc, (cut, i)) => when(bucket < cut, lit(i)).otherwise(acc)
    }
    docs.withColumn("bucket", bucketFn(col(idCol), seed))
      .withColumn("split", split)
  }

  /** Per-document pack assignment for concat-and-chunk sequence packing:
    * documents are laid head-to-tail in (partCol, shard, orderCol) order
    * and a document belongs to the pack its FIRST token lands in (it may
    * straddle into the next — that is the chunking semantic, not a bug).
    * Returns the input plus `shard`, `tokens`, `start_off`, `pack_id`.
    *
    * Determinism contract: `orderCol` MUST be unique within each
    * (partCol, shard) stream — the running sum orders by it alone, and a
    * duplicate key would make `start_off` engine/run-dependent for the
    * tied rows. Pass a document id, not a timestamp. `tokensCol` is cast
    * to long internally: the pack boundary is exact integer division
    * (`div`), never float `floor` — double division diverges from the
    * exact ledger once a stream's cumulative offset passes 2^53. */
  def packAssignments(docs: DataFrame, partCol: String, orderCol: String,
                      tokensCol: Column, budget: Int, shards: Int,
                      seed: String): DataFrame = {
    require(budget >= 1 && shards >= 1,
      s"packing needs budget >= 1 and shards >= 1, got budget=$budget shards=$shards")
    val w = Window.partitionBy(col(partCol), col("shard"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("shard", hashBucket(col(orderCol), seed) % shards)
      .withColumn("tokens", tokensCol.cast("long"))
      .withColumn("start_off", sum(col("tokens")).over(w) - col("tokens"))
      .withColumn("pack_id", expr(s"start_off div $budget"))
  }

  /** The [[packAssignments]] ledger over EXPLICIT streams — same exact
    * integer running-sum contract, but the caller supplies the stream
    * assignment and within-stream order instead of the seeded-hash
    * derivation (the composition seam [[q105ShuffledPack]] uses to pack
    * in q78's global-shuffle order). `orderCol` must be unique within
    * each stream — packAssignments' determinism contract, unchanged. */
  def packByOrder(docs: DataFrame, streamCol: String, orderCol: String,
                  tokensCol: Column, budget: Int): DataFrame = {
    require(budget >= 1, s"packing needs budget >= 1, got $budget")
    val w = Window.partitionBy(col(streamCol))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("tokens", tokensCol.cast("long"))
      .withColumn("start_off", sum(col("tokens")).over(w) - col("tokens"))
      .withColumn("pack_id", expr(s"start_off div $budget"))
  }

  private val ShufPackBudget = 512
  private val ShufPackShards = 4
  private val ShufPackSeed = "shufpack"

  /** q105: pack in GLOBALLY-SHUFFLED order — the q78 × q45 composition
    * a pretraining exporter actually ships: [[Sharding.shuffleShards]]
    * deals every document a deterministic (shard, pos) in seeded-hash
    * order, and the token-budget ledger packs each shard's stream in
    * that order, so a loader reading pack 0, 1, 2, … of its shard sees
    * globally-shuffled data with zero load-time shuffling. Per-pack
    * ledger row: doc/token counts plus min_by/max_by doc anchors — the
    * anchors certify the pack boundary fell in HASH order, not id
    * order. Plan: the pack window partitions by the same `shard` key
    * the rank window just created, so the whole composition rides ONE
    * exchange (pinned in PlanAuditSpec). */
  def q105ShuffledPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    val shuffled = Sharding.shuffleShards(docs, "doc_id", ShufPackShards, ShufPackSeed)
    packByOrder(shuffled, "shard", "pos", col("n_tokens"), ShufPackBudget)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("pack_tokens"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"),
        min_by(col("doc_id"), col("pos")).as("first_doc"),
        max_by(col("doc_id"), col("pos")).as("last_doc"))
      .orderBy(col("shard"), col("pack_id"))
  }

  val q105ShuffledPackSql: String =
    s"""WITH t AS (SELECT doc_id, len(${TextQueries.tokSqlExpr})::BIGINT AS n_tokens FROM documents),
       |b AS (SELECT doc_id, n_tokens,
       |    ('0x' || substring(md5('$ShufPackSeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |  FROM t),
       |s AS (SELECT *, bucket * $ShufPackShards // 4294967296 AS shard FROM b),
       |r AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY bucket, doc_id)::BIGINT AS pos FROM s),
       |c AS (SELECT *, (sum(n_tokens) OVER (PARTITION BY shard ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT AS start_off FROM r),
       |p AS (SELECT *, (start_off // $ShufPackBudget)::BIGINT AS pack_id FROM c)
       |SELECT shard, pack_id, count(*)::BIGINT AS n_docs,
       |  sum(n_tokens)::BIGINT AS pack_tokens,
       |  min(pos) AS first_pos, max(pos) AS last_pos,
       |  min_by(doc_id, pos) AS first_doc, max_by(doc_id, pos) AS last_doc
       |FROM p GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin

  /** Materialized pack CONTENTS — the exporter half of concat-and-chunk
    * packing. [[packAssignments]] decides which pack each document STARTS
    * in; a pretraining exporter also needs every (pack, document-span)
    * segment, including the straddle splits where a document crosses a
    * pack boundary. One row per segment:
    *
    *  - `pack_id`: every pack the document occupies (first through last);
    *  - `seg_start`/`seg_end`: the half-open token span WITHIN the
    *    document that lands in this pack (`[0, tokens)` overall — a
    *    document's segments tile its token range exactly);
    *  - `pack_off`: where the segment begins within the pack
    *    (`[0, budget)`), so interior packs tile `[0, budget)` exactly.
    *
    * Zero-token documents occupy no pack and emit no segment (they still
    * sit in the ledger upstream, contributing 0 to every offset).
    *
    * Scale: the explode is a narrow map over the assignment output — a
    * document spanning k packs emits k rows, and k ≤ tokens/budget + 1,
    * so output volume is bounded by total-tokens/budget + n_docs
    * regardless of document size distribution. No new shuffle beyond
    * [[packAssignments]]'s one window. */
  def packSegments(docs: DataFrame, partCol: String, orderCol: String,
                   tokensCol: Column, budget: Int, shards: Int,
                   seed: String): DataFrame =
    packAssignments(docs, partCol, orderCol, tokensCol, budget, shards, seed)
      .filter(col("tokens") > 0L)
      .withColumn("pack_id",
        explode(sequence(col("pack_id"),
          expr(s"(start_off + tokens - 1) div $budget"))))
      .withColumn("seg_start",
        greatest(col("pack_id") * budget, col("start_off")) - col("start_off"))
      .withColumn("seg_end",
        least((col("pack_id") + 1) * budget, col("start_off") + col("tokens"))
          - col("start_off"))
      .withColumn("pack_off",
        greatest(col("pack_id") * budget, col("start_off"))
          - col("pack_id") * budget)

  // ---- gated queries ------------------------------------------------------

  /** The q44 mixture: per-language sampling rates over the documents
    * fixture. Shared between the Spark plan and the generated oracle so
    * the driver hash-checks the exact thresholds. */
  val MixRates: Seq[(String, Double)] = Seq(
    "en" -> 0.9, "zh" -> 0.7, "de" -> 0.5, "fr" -> 0.3, "es" -> 0.15)
  val MixSeed = "mix"

  // private[graft]: the spec's driver-side ledger replay needs the same
  // budget/shards/seed the funnel packs with
  private[graft] val PackBudget = 1024
  private[graft] val PackShards = 4
  private[graft] val PackSeed = "shard"

  /** q44: deterministic weighted mixture sample of the documents table,
    * stratified by language. */
  def q44MixtureSample(spark: SparkSession, dir: String): DataFrame =
    mixtureSample(Tables.documents(spark, dir), "doc_id", "lang",
      MixRates.toMap, MixSeed)
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .orderBy(col("doc_id"))

  val q44MixtureSampleSql: String = {
    val cases = MixRates
      .map { case (s, r) => s"WHEN '$s' THEN ${rateThreshold(r)}" }
      .mkString(" ")
    s"""SELECT doc_id, lang, source, bucket FROM (
       |  SELECT doc_id, lang, source,
       |    ('0x' || substring(md5('$MixSeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |  FROM documents)
       |WHERE bucket < CASE lang $cases ELSE -1 END
       |ORDER BY doc_id""".stripMargin
  }

  /** Temperature-based mixture reweighting (the multilingual-sampling
    * rule of Conneau et al. 2020 / Xue et al. 2021: sample stratum s
    * proportional to n_s^α, α < 1 flattening the mixture toward rare
    * strata), INTEGERIZED at α = 1/2 so the derived quotas — and
    * therefore the gate — are exact on any engine:
    *
    *   w_s = ⌊√n_s⌋   W = Σ w_s   T = ⌊N / budgetDiv⌋
    *   threshold_s = min(⌊T·w_s·2³² / (W·n_s)⌋, 2³²)   keep iff
    *   bucket(id) < threshold_s
    *
    * ⌊√n⌋ is engine-stable (IEEE sqrt is correctly rounded and n < 2⁵³
    * is exact in a double), every other step is integer — the one
    * nondeterminism-prone float op in the textbook formulation (the
    * n^α / Σ n^α normalization) never happens. The quota arithmetic
    * runs in DECIMAL(38,0), so T·w_s·2³² can't overflow at any corpus
    * size that fits BIGINT counts.
    *
    * Scale shape: one count-aggregate (O(#strata) rows), a single-row
    * totals aggregate, thresholds broadcast back, then the q44/q50
    * stateless map-side keep decision — membership is hash-threshold
    * stable under corpus growth, q50's `xxh_stable` property, which is
    * what lets a nightly rebuild reuse yesterday's kept set. Returns
    * the kept rows with their stratum's audit columns attached. */
  def temperatureQuotas(docs: DataFrame, strataCol: String, budgetDiv: Int): DataFrame = {
    require(budgetDiv >= 1, s"budgetDiv=$budgetDiv must be >= 1")
    val counts = docs.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_total"))
      .withColumn("w", floor(sqrt(col("n_total").cast("double"))).cast("long"))
    val tot = counts.agg(sum("n_total").as("n_corpus"), sum("w").as("w_sum"))
    counts.crossJoin(broadcast(tot))
      .withColumn("t_budget", expr(s"n_corpus div $budgetDiv"))
      .withColumn("threshold", least(
        floor((col("t_budget").cast("decimal(38,0)") * col("w") * lit(4294967296L))
          / (col("w_sum").cast("decimal(38,0)") * col("n_total"))).cast("long"),
        lit(4294967296L)))
      .select(col(strataCol), col("n_total"), col("w"), col("threshold"))
  }

  /** The kept rows for [[temperatureQuotas]]' thresholds — the q44/q50
    * stateless keep decision with the stratum's audit columns attached. */
  def temperatureMixture(docs: DataFrame, idCol: String, strataCol: String,
                         budgetDiv: Int, seed: String,
                         bucketFn: (Column, String) => Column = hashBucket): DataFrame =
    docs.join(broadcast(temperatureQuotas(docs, strataCol, budgetDiv)), strataCol)
      .withColumn("bucket", bucketFn(col(idCol), seed))
      .filter(col("bucket") < col("threshold"))

  private val TempSeed = "temp"
  private val TempBudgetDiv = 2

  /** q97: temperature mixture over the documents fixture stratified by
    * source, half-corpus budget — per-source quota audit (all integer:
    * stratum size, ⌊√n⌋ weight, derived threshold, kept count; strata
    * quota'd to zero still emit their row, like the oracle's left join). */
  def q97TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the tiny quota frame is referenced twice (kept-probe broadcast +
    // audit output): materialize once or the corpus count-scan re-runs
    val quotas = temperatureQuotas(docs, "source", TempBudgetDiv).localCheckpoint(true)
    val kept = docs.join(broadcast(quotas.select(col("source"), col("threshold"))), "source")
      .filter(hashBucket(col("doc_id"), TempSeed) < col("threshold"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    quotas.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_total"), col("w"), col("threshold"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  val q97TemperatureMixSql: String =
    s"""WITH c AS (SELECT source, count(*)::BIGINT AS n_total FROM documents GROUP BY source),
       |w AS (SELECT source, n_total, floor(sqrt(n_total))::BIGINT AS w FROM c),
       |t AS (SELECT sum(n_total)::BIGINT AS n_corpus, sum(w)::BIGINT AS w_sum FROM w),
       |thr AS (SELECT source, n_total, w,
       |  least((((n_corpus // $TempBudgetDiv)::HUGEINT * w * 4294967296)
       |         // (w_sum::HUGEINT * n_total))::BIGINT, 4294967296) AS threshold
       |  FROM w, t),
       |k AS (SELECT d.source,
       |  (count(*) FILTER (('0x' || substring(md5('$TempSeed:' || d.doc_id), 1, 8))::BIGINT
       |     < thr.threshold))::BIGINT AS n_kept
       |  FROM documents d JOIN thr ON d.source = thr.source GROUP BY d.source)
       |SELECT thr.source, thr.n_total, thr.w, thr.threshold,
       |  coalesce(k.n_kept, 0)::BIGINT AS n_kept
       |FROM thr LEFT JOIN k ON thr.source = k.source
       |ORDER BY thr.source""".stripMargin

  /** q50: the PRODUCTION mixture sampler ([[hashBucketXxh]]) under the
    * driver's gate, q20b-style — the md5 form is the oracle-reproducible
    * anchor, and the xxhash64 form is certified by properties DuckDB can
    * assert as literal TRUEs. One row per language:
    *
    *  - `n_total` / `n_md5`: stratum size and the md5-form kept count —
    *    exact anchors the oracle recomputes (n_md5 is q44's cardinality
    *    per stratum, tying the two gates together);
    *  - `xxh_in_band`: the xxh kept count sits within a 5σ binomial band
    *    of rate·n_total (xxhash64 is deterministic, so this is a fixed
    *    property of corpus + seed, not a flaky sample — the band certifies
    *    the hash family is unbiased for this sampling use);
    *  - `xxh_stable`: incremental-stability, the property that justifies
    *    hash-threshold sampling at 100 TB — re-running the sampler over an
    *    arbitrary sub-corpus (here: even doc_ids) selects EXACTLY the
    *    full-run members that fall in the sub-corpus. Rank-based sampling
    *    (ORDER BY random() LIMIT n) fails this: membership churns whenever
    *    the corpus grows, forcing full recomputes instead of
    *    incremental-only runs. Verified as an exact set compare
    *    (exceptAll both directions), not a count compare. */
  def q50MixtureXxh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val rates = MixRates.toMap
    val rate = MixRates.foldLeft(lit(0.0)) { case (acc, (s, r)) =>
      when(col("lang") === s, lit(r)).otherwise(acc)
    }
    val totals = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"))
    val md5Kept = mixtureSample(docs, "doc_id", "lang", rates, MixSeed)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_md5"))
    // the xxh member set is referenced three times (count + both exceptAll
    // directions): materialize the small (doc_id, lang) projection once
    val xxh = mixtureSample(docs, "doc_id", "lang", rates, MixSeed, hashBucketXxh _)
      .select(col("doc_id"), col("lang")).localCheckpoint(true)
    val xxhKept = xxh.groupBy(col("lang")).agg(count(lit(1)).as("n_xxh"))
    val sub = mixtureSample(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "lang", rates, MixSeed, hashBucketXxh _)
      .select(col("doc_id"), col("lang"))
    val full2 = xxh.filter(col("doc_id") % 2 === 0)
    val nDiff = full2.exceptAll(sub).union(sub.exceptAll(full2))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_diff"))
    totals
      .join(md5Kept, Seq("lang"), "left")
      .join(xxhKept, Seq("lang"), "left")
      .join(nDiff, Seq("lang"), "left")
      .select(col("lang"), col("n_total"),
        coalesce(col("n_md5"), lit(0L)).as("n_md5"),
        (abs(coalesce(col("n_xxh"), lit(0L)) - rate * col("n_total")) <=
          lit(5.0) * sqrt(rate * (lit(1.0) - rate) * col("n_total")) + lit(3.0))
          .as("xxh_in_band"),
        (coalesce(col("n_diff"), lit(0L)) === 0L).as("xxh_stable"))
      .orderBy(col("lang"))
  }

  val q50MixtureXxhSql: String = {
    val cases = MixRates
      .map { case (s, r) => s"WHEN '$s' THEN ${rateThreshold(r)}" }
      .mkString(" ")
    s"""SELECT lang, count(*)::BIGINT AS n_total,
       |  (count(*) FILTER (
       |    ('0x' || substring(md5('$MixSeed:' || doc_id), 1, 8))::BIGINT
       |      < CASE lang $cases ELSE -1 END))::BIGINT AS n_md5,
       |  TRUE AS xxh_in_band, TRUE AS xxh_stable
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** q45: token-budget sequence packing over (lang, shard) streams —
    * per-pack document counts and token ledgers. `pack_tokens` counts the
    * tokens of documents STARTING in the pack, so interior packs carry at
    * least `budget` minus the largest straddle; the last pack per stream
    * holds the remainder. */
  def q45SeqPack(spark: SparkSession, dir: String): DataFrame =
    packAssignments(Tables.documents(spark, dir), "lang", "doc_id",
      TextFunctions.tokenCount(col("text")).cast("long"),
      PackBudget, PackShards, PackSeed)
      .groupBy(col("lang"), col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("shard"), col("pack_id"))

  /** q49: the materialized pack contents for the q45 packing — one row
    * per (pack, document-segment), straddle splits included. Same
    * streams, budget, and ledger as q45, so the two gates cross-check:
    * q45's per-pack token totals equal the sum of q49's segment lengths
    * for documents STARTING in the pack. */
  def q49PackSegments(spark: SparkSession, dir: String): DataFrame =
    packSegments(Tables.documents(spark, dir), "lang", "doc_id",
      TextFunctions.tokenCount(col("text")), PackBudget, PackShards, PackSeed)
      .select(col("lang"), col("shard"), col("pack_id"), col("doc_id"),
        col("seg_start"), col("seg_end"), col("pack_off"))
      .orderBy(col("lang"), col("shard"), col("pack_id"), col("doc_id"))

  /** The q49 segment pipeline as reusable CTEs ending in
    * `segrows(lang, shard, pack_id, doc_id, seg_start, seg_end,
    * pack_off)` — shared by the q49 and q58 oracles so the two gates
    * agree on the segment set by construction. */
  private val packSegCtes: String =
    s"""toks AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substring(md5('$PackSeed:' || doc_id), 1, 8))::BIGINT % $PackShards AS shard,
       |    len(${TextQueries.tokSqlExpr})::BIGINT AS tokens
       |  FROM documents),
       |offs AS (
       |  SELECT *, (sum(tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens)::BIGINT AS start_off
       |  FROM toks),
       |segs AS (
       |  -- scalar generate_series + unnest: DuckDB's table-function form
       |  -- can't take lateral column parameters
       |  SELECT *, unnest(generate_series(start_off // $PackBudget,
       |    (start_off + tokens - 1) // $PackBudget))::BIGINT AS pack_id
       |  FROM offs WHERE tokens > 0),
       |segrows AS (
       |  SELECT lang, shard, pack_id, doc_id,
       |    (greatest(pack_id * $PackBudget, start_off) - start_off)::BIGINT AS seg_start,
       |    (least((pack_id + 1) * $PackBudget, start_off + tokens) - start_off)::BIGINT AS seg_end,
       |    (greatest(pack_id * $PackBudget, start_off) - pack_id * $PackBudget)::BIGINT AS pack_off
       |  FROM segs)""".stripMargin

  val q49PackSegmentsSql: String =
    s"""WITH $packSegCtes
       |SELECT lang, shard, pack_id, doc_id, seg_start, seg_end, pack_off
       |FROM segrows ORDER BY lang, shard, pack_id, doc_id""".stripMargin

  /** The pack EXPORTER: materialize [[packSegments]] as a parquet layout
    * partitioned by (partCol, shard) — the physical artifact a training
    * loader consumes. Partitioning by stream key means a loader (or a
    * backfill of one shard) reads only its own directory — partition
    * pruning at the storage layout level, the same idea as
    * [[Ivf.writeIndex]]'s list-partitioned index. Returns the reopened
    * frame (read back through the partition-discovery path the loader
    * will use, partition columns cast back to the written types). */
  def exportPacks(docs: DataFrame, partCol: String, orderCol: String,
                  tokensCol: Column, budget: Int, shards: Int,
                  seed: String, path: String): DataFrame = {
    val segs = packSegments(docs, partCol, orderCol, tokensCol, budget,
      shards, seed)
      .select(col(partCol), col("shard"), col("pack_id"), col(orderCol),
        col("seg_start"), col("seg_end"), col("pack_off"))
    segs.write.mode("overwrite").partitionBy(partCol, "shard").parquet(path)
    val re = Parquets.read(docs.sparkSession, path)
    // partition discovery re-infers directory-key types (shard comes back
    // int, a numeric partCol would too); cast back to the INPUT frame's
    // type — hardcoding string here would silently retype a numeric
    // partition column in the "schema-identical" reopened frame
    val partType = docs.schema(partCol).dataType
    re.select(col(partCol).cast(partType), col("shard").cast("long"),
      col("pack_id"), col(orderCol), col("seg_start"), col("seg_end"),
      col("pack_off"))
  }

  private val QualityMin = 0.55
  private val MinTokens = 20

  /** The funnel's quality-filter + exact-dedup stages, shared by
    * q54/q56: `keep` = quality-passing docs (localCheckpointed once —
    * its many downstream references would otherwise re-run the
    * tokenizer each; at 100 TB that checkpoint is the stage boundary
    * you'd materialize to parquet), `uniq` = exact-dedup survivors
    * (min doc_id per content hash, q15's rule), text retained for the
    * near-dup stage. */
  /** The 4-dp-rounded composite quality score (q16's ingredients) over a
    * documents frame — shared by the funnels and the top-p selector so
    * every consumer thresholds the SAME value the q54 gate proves both
    * engines agree on exactly. */
  private[operators] def qualityScored(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions._
    // tokenizer CPU must not serialize behind a narrow scan (guide
    // §2.5; no-op at scale — see [[graft.Sparks.fanOutNarrow]])
    graft.Sparks.fanOutNarrow(docs)
      .select(col("doc_id"), col("lang"), col("text"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        alphaRatio(col("text")).as("alpha_raw"),
        punctRatio(col("text")).as("punct_raw"),
        stopwordRatio(col("text")).as("stop_raw"))
      .withColumn("quality", round(
        lit(0.25) * col("alpha_raw") +
        lit(0.25) * col("stop_raw") +
        lit(0.25) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
        lit(0.25) * (lit(1.0) - col("punct_raw")), 4))
  }

  private def funnelStages(spark: SparkSession,
                           dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val keep = qualityScored(docs)
      .filter(col("quality") >= QualityMin && col("n_tokens") >= MinTokens)
      .select(col("doc_id"), col("lang"), col("text"), col("n_tokens"))
      .localCheckpoint(true)
    val surv = keep.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val uniq = keep.join(surv.select(col("doc_id")), Seq("doc_id"), "left_semi")
    (docs, keep, uniq)
  }

  /** q54's sampled set (doc_id, lang, n_tokens, bucket) — exposed so the
    * spec can independently replay the pack ledger over it. */
  private[graft] def curationSampled(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, uniq) = funnelStages(spark, dir)
    mixtureSample(uniq.select(col("doc_id"), col("lang"), col("n_tokens")),
      "doc_id", "lang", MixRates.toMap, MixSeed)
  }

  /** Joins the per-stage per-language counts into the funnel report row.
    * `stages` = (name, frame) in funnel order; every frame must expose
    * `lang`. */
  private def funnelReport(docs: DataFrame, stages: Seq[(String, DataFrame)],
                           packed: DataFrame): DataFrame = {
    val f0 = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val counts = stages.map { case (name, df) =>
      name -> df.groupBy(col("lang")).agg(count(lit(1)).as(name))
    }
    val f4 = packed.groupBy(col("lang")).agg(
      countDistinct(col("shard"), col("pack_id")).as("n_packs"),
      sum(col("tokens")).as("pack_tokens"))
    val joined = (counts.map(_._2) :+ f4)
      .foldLeft(f0)((acc, f) => acc.join(f, Seq("lang"), "left"))
    joined.select(col("lang") +: col("n_docs") +:
        (stages.map { case (name, _) =>
          coalesce(col(name), lit(0L)).as(name)
        } ++ Seq(
          coalesce(col("n_packs"), lit(0L)).as("n_packs"),
          coalesce(col("pack_tokens"), lit(0L)).as("pack_tokens"))): _*)
      .orderBy(col("lang"))
  }

  /** q54: the end-to-end CURATION FUNNEL — the composed pipeline a
    * pretraining corpus build actually runs, as ONE lazy Spark plan:
    *
    *   documents → quality filter (q16's score, thresholded on the
    *   4-dp-rounded value both engines agree on exactly) → exact-dedup
    *   survivors (min doc_id per content hash, q15's rule) → seeded
    *   mixture sample (q44's decisions) → sequence packing (q45's
    *   ledger) → per-language funnel counts.
    *
    * Each stage is individually gated elsewhere; this entry gates their
    * COMPOSITION — stage ordering, column flow, and the funnel counts a
    * curation run reports. One row per language: `n_docs` → `n_quality`
    * → `n_unique` → `n_sampled`, plus `n_packs`/`pack_tokens` from the
    * packing ledger over the sampled set.
    *
    * Scale: the funnel is filters + one dedup shuffle + a map-side
    * sample + the bounded per-stream pack windows — no stage widens
    * (see [[funnelStages]] for the one checkpointed stage boundary). */
  def q54CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val (docs, keep, uniqT) = funnelStages(spark, dir)
    val uniq = uniqT.select(col("doc_id"), col("lang"), col("n_tokens"))
    val samp = mixtureSample(uniq, "doc_id", "lang", MixRates.toMap, MixSeed)
    val packed = packAssignments(samp, "lang", "doc_id", col("n_tokens"),
      PackBudget, PackShards, PackSeed)
    funnelReport(docs,
      Seq("n_quality" -> keep, "n_unique" -> uniq, "n_sampled" -> samp), packed)
  }

  /** q56: the curation funnel with the NEAR-dup cluster stage a real
    * pretraining run adds between exact dedup and sampling:
    *
    *   … exact-dedup survivors → simhash near-dup pairs (q21's emitter,
    *   hamming ≤ 3 over the 64-bit signature) → connected components
    *   (q52's clustering — transitive chains close BEFORE deletion) →
    *   keep only cluster survivors (doc_id = component min) plus
    *   unclustered docs → mixture sample → packing.
    *
    * Deleting by pair (drop id2 of every pair) over-deletes transitive
    * chains; deleting by cluster survivor is the correct semantic, and
    * composing it INSIDE the funnel is what this gate adds over
    * q52 + q54 separately: the near-dup stage must see the post-quality
    * post-exact-dedup corpus (pairs among dropped docs are irrelevant),
    * and every downstream count shifts accordingly. Funnel row adds
    * `n_neardup` (docs surviving cluster dedup) between `n_unique` and
    * `n_sampled`.
    *
    * Oracle: the SAME funnel CTEs as q54 + the q21 simhash CTEs over
    * `uniq` + the q52 recursive-CTE closure — an independent
    * transitive-closure formulation of the cluster stage, so chains
    * a~b~c where a~c is not itself a pair are value-checked in
    * composition.
    *
    * Scale: the added stage runs the bucketed simhash emitter over the
    * deduped corpus (no pair matrix), components over the pair graph
    * (≪ corpus), and one broadcast-able anti-join of the corpus against
    * the small non-survivor list. Nothing widens. */
  def q56NearDupFunnel(spark: SparkSession, dir: String): DataFrame = {
    val (docs, keep, uniqT) = funnelStages(spark, dir)
    // referenced by the simhash emitter, the anti-join, and the count —
    // cheap (semi-join of the checkpointed keep) but checkpointed so the
    // emitter's tokenize+hash pass reads a materialized frame
    val uniq = uniqT.localCheckpoint(true)
    val pairs = Dedup.simhashPairs(uniq, "doc_id", "text", maxHamming = 3)
    val comps = Dedup.clusterComponents(pairs)
    val nonSurvivors = comps.filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    val nd = uniq.join(nonSurvivors, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val samp = mixtureSample(nd, "doc_id", "lang", MixRates.toMap, MixSeed)
    val packed = packAssignments(samp, "lang", "doc_id", col("n_tokens"),
      PackBudget, PackShards, PackSeed)
    funnelReport(docs,
      Seq("n_quality" -> keep, "n_unique" -> uniq, "n_neardup" -> nd,
        "n_sampled" -> samp), packed)
  }

  /** q69: the curation funnel with BOTH deletion spaces a real
    * multi-stage curation run applies, in its order — lexical first,
    * then semantic:
    *
    *   … exact-dedup survivors → simhash cluster survivors (q56's
    *   stage) → join the survivors' embeddings (embeddings fixture,
    *   vec_id = doc_id) → SRP cosine pairs (q23's emitter, shared
    *   planes/threshold) → connected components (q53's clustering) →
    *   keep only semantic-cluster survivors → mixture sample → packing.
    *
    * Lexical-then-semantic is the economical order: simhash deletion is
    * cheap (text-only) and shrinks the set the embedding join and SRP
    * bucketing must process. The semantic stage clusters the
    * POST-lexical corpus — its pair set is computed on the survivors,
    * not globally (a doc deleted lexically must not bridge two semantic
    * clusters). Funnel row adds `n_semantic` between `n_neardup` and
    * `n_sampled`.
    *
    * Oracle: q56's funnel CTEs + the q23/q53 shared SRP CTEs (prefixed,
    * computed over the post-lexical survivors' embeddings) + the
    * unrolled label-propagation closure ([[OracleSql.closureCtes]]) —
    * both deletion stages value-checked in
    * composition.
    *
    * Scale: adds one semi-join against the (already small) survivor set
    * before the SRP emitter; both pair pipelines stay bucketed; the two
    * deletion anti-joins broadcast under AQE like q56's. Nothing
    * widens. */
  def q69SemanticFunnel(spark: SparkSession, dir: String): DataFrame = {
    val (docs, keep, uniqT) = funnelStages(spark, dir)
    val uniq = uniqT.localCheckpoint(true)
    val ndNonSurv = Dedup.clusterComponents(
        Dedup.simhashPairs(uniq, "doc_id", "text", maxHamming = 3))
      .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    // referenced by the embedding join, the semantic anti-join, and the
    // count — materialize the lexical survivors once
    val nd = uniq.join(ndNonSurv, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .localCheckpoint(true)
    val ndEmb = Tables.embeddings(spark, dir)
      .join(nd.select(col("doc_id")), col("vec_id") === col("doc_id"), "left_semi")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val semNonSurv = Dedup.clusterComponents(
        SimilarityQueries.srpPairsShared(ndEmb))
      .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    val sem = nd.join(semNonSurv, Seq("doc_id"), "left_anti")
    val samp = mixtureSample(sem, "doc_id", "lang", MixRates.toMap, MixSeed)
    val packed = packAssignments(samp, "lang", "doc_id", col("n_tokens"),
      PackBudget, PackShards, PackSeed)
    funnelReport(docs,
      Seq("n_quality" -> keep, "n_unique" -> uniq, "n_neardup" -> nd,
        "n_semantic" -> sem, "n_sampled" -> samp), packed)
  }

  val q69SemanticFunnelSql: String =
    s"""WITH $funnelBaseCtes,
       |${TextQueries.simhashPairsCtes("uniq")},
       |${OracleSql.closureCtes("pairs")},
       |nd AS MATERIALIZED (SELECT u.doc_id, u.lang, u.n_tokens FROM uniq u
       |       WHERE u.doc_id NOT IN (SELECT id FROM clus WHERE id <> comp)),
       |ndemb AS (SELECT e.vec_id, e.embedding FROM embeddings e
       |          WHERE e.vec_id IN (SELECT doc_id FROM nd)),
       |${SimilarityQueries.srpPairsCtes("ndemb", "sr_")},
       |${OracleSql.closureCtes("sr_pairs", prefix = "sr_")},
       |sem AS (SELECT n.doc_id, n.lang, n.n_tokens FROM nd n
       |        WHERE n.doc_id NOT IN (SELECT id FROM sr_clus WHERE id <> comp)),
       |${funnelTailSql("sem",
          """f2b AS (SELECT lang, count(*)::BIGINT AS n_neardup FROM nd GROUP BY 1),
            |f2c AS (SELECT lang, count(*)::BIGINT AS n_semantic FROM sem GROUP BY 1),""".stripMargin,
          """coalesce(n_neardup, 0) AS n_neardup,
            |  coalesce(n_semantic, 0) AS n_semantic,""".stripMargin,
          "LEFT JOIN f2b USING (lang) LEFT JOIN f2c USING (lang)")}""".stripMargin

  // Repetition pre-filter thresholds (q76), applied to the 4-dp-ROUNDED
  // q75 metrics (the q16/q54 threshold-hygiene rule: both engines agree
  // on the rounded value exactly, so the cut cannot diverge on float
  // dust). Values chosen against the fixture's distribution so BOTH
  // predicates cut non-vacuously (dup_word_frac p75≈0.64, p90≈0.68;
  // top_bigram_char_frac p90≈0.12).
  private val DupWordMax = 0.65
  private val TopBigramMax = 0.12

  /** q76: the curation funnel with the Gopher repetition PRE-filter in
    * front — the order a real pipeline runs (repetition-heavy docs are
    * dropped before any tokeniser-heavier stage sees them): repetition
    * filter → quality filter → exact dedup → mixture sample → packing,
    * with `n_clean` joining the funnel report between `n_docs` and
    * `n_quality`. The repetition stage reuses q75's gated
    * [[TextQueries.repetitionStats]]; the quality→pack tail reuses the
    * q54 stages — this gate checks the COMPOSITION (q54's argument),
    * with the oracle's funnel CTEs re-rooted on the filtered set. */
  def q76RepetitionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // stage boundary BEFORE the threshold filter: predicate pushdown
    // inlines projection aliases into the pushed filter regardless of
    // cost, which would re-embed the tokenizer inside the repetition
    // lambdas (the exact blowup repetitionStats' staging removes —
    // 38.8 s → 2.5 s isolated at sf0.1). The checkpoint is the funnel's
    // standard stage-boundary materialization (q54's pattern).
    val repMetrics = TextQueries.repetitionStats(docs, "doc_id", "text")
      .localCheckpoint(true)
    val cleanIds = repMetrics
      .filter(coalesce(col("dup_word_frac"), lit(0.0)) <= DupWordMax &&
        coalesce(col("top_bigram_char_frac"), lit(0.0)) <= TopBigramMax)
      .select(col("doc_id"))
    // fed to the quality stage AND the n_clean count — materialize once
    val clean = docs.join(cleanIds, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val keep = qualityScored(clean)
      .filter(col("quality") >= QualityMin && col("n_tokens") >= MinTokens)
      .select(col("doc_id"), col("lang"), col("text"), col("n_tokens"))
      .localCheckpoint(true)
    val surv = keep.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val uniq = keep.join(surv.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val samp = mixtureSample(
      uniq.select(col("doc_id"), col("lang"), col("n_tokens")),
      "doc_id", "lang", MixRates.toMap, MixSeed)
    val packed = packAssignments(samp, "lang", "doc_id", col("n_tokens"),
      PackBudget, PackShards, PackSeed)
    funnelReport(docs,
      Seq("n_clean" -> clean, "n_quality" -> keep, "n_unique" -> uniq,
        "n_sampled" -> samp), packed)
  }

  val q76RepetitionFunnelSql: String = {
    val rep =
      s"""rt AS (SELECT doc_id, ${TextQueries.tokSqlExpr} AS toks FROM documents),
         |rb AS (SELECT doc_id, toks, array_to_string(toks, ' ') AS norm,
         |  CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |    ELSE [] END AS bigrams FROM rt),
         |rg AS (SELECT doc_id, unnest(bigrams) AS gram FROM rb),
         |rc AS (SELECT doc_id, gram, count(*) AS cnt FROM rg GROUP BY 1, 2),
         |rtop AS (SELECT doc_id, gram, cnt FROM (
         |  SELECT doc_id, gram, cnt,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
         |  FROM rc) WHERE rn = 1),
         |repm AS (SELECT b.doc_id,
         |  CASE WHEN len(b.toks) > 0 THEN
         |    round((len(b.toks) - len(list_distinct(b.toks)))::double / len(b.toks), 4)
         |  END AS dup_word_frac,
         |  round((t.cnt * len(t.gram))::double / len(b.norm), 4) AS top_bigram_char_frac
         |FROM rb b LEFT JOIN rtop t ON b.doc_id = t.doc_id)""".stripMargin
    s"""WITH $rep,
       |clean AS (SELECT d.* FROM documents d JOIN repm USING (doc_id)
       |          WHERE coalesce(dup_word_frac, 0) <= $DupWordMax
       |            AND coalesce(top_bigram_char_frac, 0) <= $TopBigramMax),
       |${funnelBaseCtesOf("clean")},
       |${funnelTailSql("uniq",
          "f1b AS (SELECT lang, count(*)::BIGINT AS n_clean FROM clean GROUP BY 1),",
          "coalesce(n_clean, 0) AS n_clean,",
          "LEFT JOIN f1b USING (lang)")}""".stripMargin
  }

  /** q58: the pack layout EXPORTED and read back — q28's
    * write→reopen→verify pattern applied to [[exportPacks]]. The gate
    * runs the exporter against a scratch directory, reopens the
    * partitioned layout through partition discovery (the loader's path),
    * and folds it into one row:
    *
    *  - `n_segments` / `n_packs` / `total_seg_tokens`: anchors the
    *    oracle recomputes from the fixture (total_seg_tokens = every
    *    non-empty doc's tokens — segments tile documents exactly);
    *  - `tiling_ok`: in every INTERIOR pack (not its stream's last) the
    *    reopened segments are adjacent from offset 0 to exactly
    *    `budget` — checked by a lag window over (pack_off, doc_id), so
    *    gaps AND overlaps both trip it;
    *  - `roundtrip_ok`: the reopened set equals the computed set
    *    exactly (exceptAll both directions) — partitioning and type
    *    round-trip lose nothing.
    * The oracle emits the anchors + literal TRUEs (q26 pattern). */
  def q58PackExport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = java.nio.file.Files.createTempDirectory("graft_q58_")
    try {
      val cols = Seq(col("lang"), col("shard"), col("pack_id"), col("doc_id"),
        col("seg_start"), col("seg_end"), col("pack_off"))
      // both frames are referenced three+ times (anchors, window audit,
      // both exceptAll directions): materialize once; re must also
      // outlive the temp-dir deletion in the finally
      val re = exportPacks(Tables.documents(spark, dir), "lang", "doc_id",
          TextFunctions.tokenCount(col("text")), PackBudget, PackShards,
          PackSeed, s"$base/packs")
        .select(cols: _*).localCheckpoint(true)
      val computed = packSegments(Tables.documents(spark, dir), "lang",
          "doc_id", TextFunctions.tokenCount(col("text")), PackBudget,
          PackShards, PackSeed)
        .select(cols: _*).localCheckpoint(true)
      val seg = re.withColumn("len", col("seg_end") - col("seg_start"))
      val lastPack = seg.groupBy(col("lang"), col("shard"))
        .agg(max(col("pack_id")).as("last_pack"))
      val interior = seg.join(lastPack, Seq("lang", "shard"))
        .filter(col("pack_id") < col("last_pack"))
      val w = Window.partitionBy(col("lang"), col("shard"), col("pack_id"))
        .orderBy(col("pack_off"), col("doc_id"))
      val badAdj = interior
        .withColumn("prev_end", lag(col("pack_off") + col("len"), 1).over(w))
        .agg(sum(when(col("pack_off") =!=
          coalesce(col("prev_end"), lit(0L)), 1L).otherwise(0L)).as("n_bad_adj"))
      val badEnd = interior
        .groupBy(col("lang"), col("shard"), col("pack_id"))
        .agg(max(col("pack_off") + col("len")).as("en"))
        .agg(sum(when(col("en") =!= PackBudget.toLong, 1L).otherwise(0L))
          .as("n_bad_end"))
      val diff = computed.exceptAll(re).union(re.exceptAll(computed))
        .agg(count(lit(1)).as("n_diff"))
      re.agg(count(lit(1)).as("n_segments"),
          countDistinct(col("lang"), col("shard"), col("pack_id")).as("n_packs"),
          sum(col("seg_end") - col("seg_start")).as("total_seg_tokens"))
        .crossJoin(badAdj).crossJoin(badEnd).crossJoin(diff)
        .select(col("n_segments"), col("n_packs"), col("total_seg_tokens"),
          (coalesce(col("n_bad_adj"), lit(0L)) === 0L &&
            coalesce(col("n_bad_end"), lit(0L)) === 0L).as("tiling_ok"),
          (col("n_diff") === 0L).as("roundtrip_ok"))
        .localCheckpoint(true) // materialize before the layout dir is deleted
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q58PackExportSql: String =
    s"""WITH $packSegCtes
       |SELECT count(*)::BIGINT AS n_segments,
       |  count(DISTINCT (lang, shard, pack_id))::BIGINT AS n_packs,
       |  sum(seg_end - seg_start)::BIGINT AS total_seg_tokens,
       |  TRUE AS tiling_ok, TRUE AS roundtrip_ok
       |FROM segrows""".stripMargin

  // q84 chunk-then-pack parameters: non-overlapping chunks (an
  // overlapped chunk would train its overlap twice — chunking for
  // PACKING is stride = size, unlike q67's retrieval windows), budget
  // sized to force straddle splits at the fixture's chunk lengths.
  private val CpChunk = 32
  private val CpBudget = 100
  private val CpShards = 4
  private val CpSeed = "cpack"

  /** q84: the LONG-document path a packer actually runs — chunk first
    * ([[TextQueries.chunkDocuments]], stride = size), then pack the
    * CHUNKS ([[packSegments]] over (cid, n_chunk_tokens)). Composing
    * the two gated operators changes the packing unit from documents to
    * chunks: retrieval/attention-window limits bound each item BEFORE
    * the token ledger runs, so no single document can own a pack run
    * longer than chunkSize. The synthetic `cid = doc_id·10⁴ + chunk_id`
    * keeps the ledger ordered by (doc, chunk) within a stream — chunks
    * of one document stay adjacent (the property that lets a loader
    * reassemble windows) while the hash shard still balances streams.
    * Still exactly one shuffle: the chunk explode is narrow, the pack
    * window is [[packAssignments]]'s one exchange. Row-level exact:
    * every chunk boundary, straddle split, and pack offset. */
  def q84ChunkPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val chunks = TextQueries.chunkDocuments(docs, "doc_id", "text", CpChunk, 0)
    val withLang = chunks
      .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .withColumn("cid", col("id") * 10000L + col("chunk_id"))
    packSegments(withLang, "lang", "cid", col("n_chunk_tokens"),
        CpBudget, CpShards, CpSeed)
      .select(col("lang"), col("shard"), col("pack_id"),
        expr("cid div 10000").as("doc_id"),
        pmod(col("cid"), lit(10000L)).as("chunk_id"),
        col("seg_start"), col("seg_end"), col("pack_off"))
      .orderBy(col("lang"), col("shard"), col("pack_id"), col("doc_id"),
        col("chunk_id"))
  }

  val q84ChunkPackSql: String =
    s"""WITH t AS (SELECT doc_id, lang, ${TextQueries.tokSqlExpr} AS t FROM documents),
       |n AS (SELECT doc_id, lang, t, len(t) AS L,
       |      greatest(1, (len(t) + ${CpChunk - 1}) // $CpChunk) AS nc
       |      FROM t WHERE len(t) > 0),
       |c AS (SELECT doc_id, lang, unnest(range(nc))::BIGINT AS chunk_id, t, L FROM n),
       |ch AS (SELECT doc_id, lang, chunk_id, doc_id * 10000 + chunk_id AS cid,
       |  len(t[chunk_id * $CpChunk + 1 : least(chunk_id * $CpChunk + $CpChunk, L)])::BIGINT AS tokens
       |  FROM c),
       |toks AS (SELECT *,
       |  ('0x' || substring(md5('$CpSeed:' || cid), 1, 8))::BIGINT % $CpShards AS shard
       |  FROM ch WHERE tokens > 0),
       |offs AS (SELECT *, (sum(tokens) OVER (PARTITION BY lang, shard ORDER BY cid
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens)::BIGINT AS start_off
       |  FROM toks),
       |segs AS (SELECT *, unnest(generate_series(start_off // $CpBudget,
       |  (start_off + tokens - 1) // $CpBudget))::BIGINT AS pack_id
       |  FROM offs)
       |SELECT lang, shard, pack_id, doc_id, chunk_id,
       |  (greatest(pack_id * $CpBudget, start_off) - start_off)::BIGINT AS seg_start,
       |  (least((pack_id + 1) * $CpBudget, start_off + tokens) - start_off)::BIGINT AS seg_end,
       |  (greatest(pack_id * $CpBudget, start_off) - pack_id * $CpBudget)::BIGINT AS pack_off
       |FROM segs
       |ORDER BY lang, shard, pack_id, doc_id, chunk_id""".stripMargin

  private val BackfillShard = 2L

  /** q86: ONE-STREAM BACKFILL — the recovery property several scale
    * arguments here lean on ("a backfill of one shard deals the same
    * cards"), now gated instead of asserted. A (stratum, shard) pack
    * stream depends only on its own documents: shard membership is a
    * pure function of the id hash, and the token ledger never reads
    * across streams. So a backfill recomputes ONE stream from only that
    * stream's documents — this gate runs [[packSegments]] over the
    * corpus PRE-FILTERED to shard 2's docs and emits the result, while
    * the oracle recomputes the FULL ledger and filters to shard 2: the
    * two agree row-for-row iff streams are truly independent (any
    * cross-stream leakage in the window, shard, or offset arithmetic
    * would shift every offset in the backfilled stream). At 100 TB this
    * is the difference between re-running one task's worth of work and
    * re-running the corpus. */
  def q86StreamBackfill(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(hashBucket(col("doc_id"), PackSeed) % PackShards === BackfillShard)
    packSegments(docs, "lang", "doc_id", TextFunctions.tokenCount(col("text")),
        PackBudget, PackShards, PackSeed)
      .select(col("lang"), col("shard"), col("pack_id"), col("doc_id"),
        col("seg_start"), col("seg_end"), col("pack_off"))
      .orderBy(col("lang"), col("pack_id"), col("doc_id"))
  }

  val q86StreamBackfillSql: String =
    s"""WITH $packSegCtes
       |SELECT lang, shard, pack_id, doc_id, seg_start, seg_end, pack_off
       |FROM segrows WHERE shard = $BackfillShard
       |ORDER BY lang, pack_id, doc_id""".stripMargin

  /** q62's epoch-weight line: >1 upsamples, =1 passes through, <1
    * samples down, absent strata drop. */
  val UpRates: Seq[(String, Double)] = Seq(
    "en" -> 2.5, "zh" -> 1.25, "de" -> 1.0, "fr" -> 0.4)
  val UpSeed = "up"

  /** q62: deterministic mixture upsampling — each document's copy list
    * under the [[UpRates]] epoch weights, decided by the seeded hash so
    * the driver hash-checks every copy decision exactly. */
  def q62Upsample(spark: SparkSession, dir: String): DataFrame =
    upsampleMixture(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", UpRates.toMap, UpSeed)
      .select(col("doc_id"), col("lang"), col("bucket"),
        col("n_copies"), col("copy"))
      .orderBy(col("doc_id"), col("copy"))

  val q62UpsampleSql: String = {
    val wholeCases = UpRates
      .map { case (s, r) => s"WHEN '$s' THEN ${r.toLong}" }.mkString(" ")
    val fracCases = UpRates
      .map { case (s, r) => s"WHEN '$s' THEN ${rateThreshold(r - r.toLong)}" }
      .mkString(" ")
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substring(md5('$UpSeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |  FROM documents),
       |c AS (
       |  SELECT *, ((CASE lang $wholeCases ELSE 0 END)
       |    + (CASE WHEN bucket < CASE lang $fracCases ELSE 0 END
       |       THEN 1 ELSE 0 END))::BIGINT AS n_copies
       |  FROM b)
       |SELECT doc_id, lang, bucket, n_copies,
       |  unnest(generate_series(1, n_copies))::BIGINT AS copy
       |FROM c WHERE n_copies > 0 ORDER BY doc_id, copy""".stripMargin
  }

  val SplitFracs: Seq[Double] = Seq(0.8, 0.1, 0.1)
  val SplitSeed = "split"

  /** q63: deterministic train/val/test split — every document's hash
    * bucket and split label under [[SplitFracs]], row-level exact. */
  def q63HashSplit(spark: SparkSession, dir: String): DataFrame =
    hashSplit(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        "doc_id", SplitFracs, SplitSeed)
      .select(col("doc_id"), col("lang"), col("bucket"),
        col("split").cast("long").as("split"))
      .orderBy(col("doc_id"))

  // q181 parameters: the group-split seed (distinct from q63's so the
  // two gates cannot mask each other).
  private val GroupSplitSeed = "gsplit"

  /** q181: GROUP-AWARE train/val/test split — the leakage-proof form of
    * q63: hashing DOCUMENT ids puts two near-duplicates of the same
    * text on both sides of the train/test wall (the classic eval
    * inflation q60 then has to detect after the fact); hashing the
    * near-dup CLUSTER's canonical id makes straddling impossible BY
    * CONSTRUCTION — the split is a function of the cluster, so every
    * member lands together (scikit-learn's GroupShuffleSplit, run at
    * corpus scale on the engine's own q52 clusters). Docs outside any
    * pair are their own singleton group (coalesce to doc_id), so the
    * split remains total. Gate = every doc's (cluster, bucket, split),
    * row-level exact: the oracle re-derives the clusters through the
    * closure CTEs and re-hashes the same md5 buckets, so a cluster the
    * engine split across the wall — or a singleton mis-grouped — fails
    * the hash.
    *
    * Scale: the cluster map is q52's CC output (its O(log d) cost is
    * the dedup pass the pipeline already ran — reuse, not recompute);
    * the split itself is a zero-shuffle narrow map over (doc, cluster)
    * plus one broadcast-size left join. */
  def q181GroupSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // two-phase CC — the funnels' default since it does label-prop's
    // job at roughly half the wall clock (q59 vs q52)
    val clusters = Dedup.connectedComponentsTwoPhase(
        Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
    hashSplit(
        docs.select(col("doc_id"), col("lang"))
          .join(clusters, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id"))),
        "cluster_id", SplitFracs, GroupSplitSeed)
      .select(col("doc_id"), col("lang"), col("cluster_id"), col("bucket"),
        col("split").cast("long").as("split"))
      .orderBy(col("doc_id"))
  }

  val q181GroupSplitSql: String = {
    val total = SplitFracs.sum
    val cuts = SplitFracs.scanLeft(0.0)(_ + _).tail
      .map(c => rateThreshold(c / total)).dropRight(1)
    val cases = cuts.zipWithIndex
      .map { case (t, i) => s"WHEN bucket < $t THEN $i" }.mkString(" ")
    s"""WITH ${TextQueries.simhashPairsCtes()},
       |${OracleSql.closureCtes("pairs")},
       |g AS (
       |  SELECT d.doc_id, d.lang, coalesce(clus.comp, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN clus ON clus.id = d.doc_id),
       |b AS (
       |  SELECT doc_id, lang, cluster_id,
       |    ('0x' || substring(md5('$GroupSplitSeed:' || cluster_id), 1, 8))::BIGINT AS bucket
       |  FROM g)
       |SELECT doc_id, lang, cluster_id, bucket,
       |  (CASE $cases ELSE ${SplitFracs.size - 1} END)::BIGINT AS split
       |FROM b ORDER BY doc_id""".stripMargin
  }

  val q63HashSplitSql: String = {
    val total = SplitFracs.sum
    val cuts = SplitFracs.scanLeft(0.0)(_ + _).tail
      .map(c => rateThreshold(c / total)).dropRight(1)
    val cases = cuts.zipWithIndex
      .map { case (t, i) => s"WHEN bucket < $t THEN $i" }.mkString(" ")
    s"""SELECT doc_id, lang, bucket,
       |  (CASE $cases ELSE ${SplitFracs.size - 1} END)::BIGINT AS split
       |FROM (
       |  SELECT doc_id, lang,
       |    ('0x' || substring(md5('$SplitSeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Exact-k STRATIFIED selection: precisely the `k` hash-smallest
    * documents of each stratum — "take exactly 10M docs per language",
    * the fixed-size counterpart of [[mixtureSample]]'s fixed-rate cut.
    * Selection order is the seeded hash (with id tiebreak), so the draw
    * is uniform, deterministic, and reproducible; unlike rate sampling
    * it is NOT growth-stable (k is fixed, so a grown corpus evicts the
    * largest-bucket members — the documented tradeoff of asking for an
    * exact count).
    *
    * Scale: no per-stratum sort. The
    * [[graft.functions.GraftUdfs.BottomKAggregator]] keeps each
    * partition's k smallest (bucket, id) pairs and merges them
    * map-side, so the shuffle carries ≤ k pairs per partition per
    * stratum — the same mergeable-summary shape as KMV/Misra-Gries,
    * repurposed from estimation to exact selection. Returns
    * (stratum, bucket, id) of the selected members; callers semi-join
    * on id to materialize the rows. */
  def takeStratifiedK(docs: DataFrame, idCol: String, strataCol: String,
                      k: Int, seed: String,
                      bucketFn: (Column, String) => Column = hashBucket): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    // functions.udaf, not the typed groupByKey path: as a SQL aggregate
    // the plan gets map-side PARTIAL aggregation (ObjectHashAggregate
    // partial+final, like the sibling minhash_sig/misra_gries sketches),
    // so the shuffle carries ≤ k pairs per partition — the typed
    // Dataset route serialized every row through the encoder and gave
    // the mergeable summary no partial stage to merge in
    val bottomK = org.apache.spark.sql.functions.udaf(
      new graft.functions.GraftUdfs.BottomKAggregator(k))
    docs
      .select(col(strataCol).cast("string").as("stratum"),
        bucketFn(col(idCol), seed).as("bucket"),
        col(idCol).cast("long").as("id"))
      .groupBy(col("stratum"))
      .agg(bottomK(col("bucket"), col("id")).as("sel"))
      .select(col("stratum"), explode(col("sel")).as("p"))
      .select(col("stratum"), col("p._1").as("bucket"), col("p._2").as("id"))
  }

  private val TakeK = 25
  private val TakeSeed = "take"

  /** q66: exact-k stratified selection over the documents fixture —
    * row-level exact against the oracle's rank formulation (the window
    * sort the production aggregator exists to avoid). */
  def q66TakeK(spark: SparkSession, dir: String): DataFrame =
    takeStratifiedK(Tables.documents(spark, dir), "doc_id", "lang",
        TakeK, TakeSeed)
      .select(col("stratum").as("lang"), col("bucket"), col("id").as("doc_id"))
      .orderBy(col("lang"), col("bucket"), col("doc_id"))

  val q66TakeKSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substring(md5('$TakeSeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |  FROM documents),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rk
       |  FROM b)
       |SELECT lang, bucket, doc_id FROM r WHERE rk <= $TakeK
       |ORDER BY lang, bucket, doc_id""".stripMargin

  /** TOKEN-budget selection — "take `budget` tokens per stratum", the
    * unit a pretraining mixture is actually specified in (q66's take-k
    * counts documents; a mixture spec says "50 B tokens of code, 200 B
    * of web"). Greedy in seeded-hash order: walk each stratum's docs by
    * (bucket, id) and keep until the running token sum reaches the
    * budget; the doc that CROSSES the boundary is kept (greedy-include
    * convention — budgets are targets, not hard caps; documented, and
    * mirrored in the oracle).
    *
    * Scale design: a per-stratum cumulative sum is a per-stratum SORT —
    * unbounded at 100 TB. The `shards` key bounds it exactly as
    * [[packAssignments]] does: each (stratum, shard) stream gets
    * `budget / shards` and its own bounded window, so raising `shards`
    * caps the window sort at any corpus size. The trade is the same as
    * packing's partial tail packs: per-shard greedy cuts can each
    * overshoot by at most one document. Deterministic by construction
    * (seeded hash order), so a re-run or a one-shard backfill deals the
    * same cards; like fixed-k (and unlike rate sampling) the selection
    * is NOT growth-stable — a grown corpus hashes new docs into the
    * order and shifts the cut; the stable form is a rate cut (q44). */
  def takeTokenBudget(docs: DataFrame, idCol: String, strataCol: String,
                      tokensCol: Column, budget: Long, shards: Int,
                      seed: String): DataFrame = {
    require(budget >= 1 && shards >= 1, s"budget=$budget shards=$shards")
    val perShard = budget / shards
    val w = Window.partitionBy(col("stratum"), col("shard"))
      .orderBy(col("bucket"), col(idCol))
    docs
      .select(col(idCol), col(strataCol).as("stratum"),
        hashBucket(col(idCol), seed).as("bucket"),
        tokensCol.cast("long").as("n_tokens"))
      .withColumn("shard", pmod(col("bucket"), lit(shards.toLong)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < perShard)
  }

  /** Length-bucketed batch assembly with padding-waste accounting — the
    * dynamic-batching step of a padded (non-packed) training loader:
    * group documents into batches of near-equal token length so the
    * per-batch pad-to-max cost stays small (the padding analog of the
    * q45 packing family: packing concatenates to erase padding, this
    * assembles batches to MINIMIZE it when sequences must stay whole —
    * e.g. contrastive or reward-model batches).
    *
    * Shape: bucket = ⌊dl / bucketWidth⌋ (narrow map), shard = seeded
    * hash mod `shards` (q81's bounded-window discipline: the batch
    * window sorts only a (bucket, shard) slice, never a global order —
    * at 100 TB the per-window row count is corpus/buckets/shards, tuned
    * by `shards`, and windows across (bucket, shard) keys parallelize).
    * Within a window, docs order by (dl DESC, id) and chop into
    * `batchSize`-row batches; per batch the ledger reports
    * `pad_waste = n·max(dl) − Σdl` — zero exactly when the batch is
    * length-uniform. Everything is integer, so the gate is exact; the
    * one double (`waste_frac`) is a single per-row division. */
  def lengthBatches(docs: DataFrame, idCol: String, tokensCol: Column,
                    bucketWidth: Int, batchSize: Int, shards: Int,
                    seed: String): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1 && shards >= 1,
      s"bucketWidth=$bucketWidth batchSize=$batchSize shards=$shards")
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("dl").desc, col(idCol).asc)
    docs
      .select(col(idCol), tokensCol.cast("long").as("dl"))
      .filter(col("dl") > 0)
      .withColumn("bucket", expr(s"dl div $bucketWidth"))
      .withColumn("shard", pmod(hashBucket(col(idCol), seed), lit(shards.toLong)))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch", expr(s"(rn - 1) div $batchSize"))
      .groupBy(col("bucket"), col("shard"), col("batch"))
      .agg(count(lit(1)).as("n_docs"), max(col("dl")).as("max_dl"),
        sum(col("dl")).as("sum_dl"),
        min(col(idCol)).as("first_doc"), max(col(idCol)).as("last_doc"))
      .withColumn("pad_waste", col("n_docs") * col("max_dl") - col("sum_dl"))
      .withColumn("waste_frac",
        col("pad_waste").cast("double") / (col("n_docs") * col("max_dl")).cast("double"))
  }

  private val LenBucketWidth = 16
  private val LenBatchSize = 8
  private val LenShards = 2
  private val LenSeed = "lenbatch"

  /** q99: length-bucketed batches over the documents fixture — the full
    * integer batch ledger, row-level exact. */
  def q99LengthBatches(spark: SparkSession, dir: String): DataFrame =
    lengthBatches(Tables.documents(spark, dir), "doc_id",
      TextFunctions.tokenCount(col("text")), LenBucketWidth, LenBatchSize,
      LenShards, LenSeed)
      .orderBy(col("bucket"), col("shard"), col("batch"))

  val q99LengthBatchesSql: String =
    s"""WITH t AS (SELECT doc_id, len(${TextQueries.tokSqlExpr})::BIGINT AS dl FROM documents),
       |b AS (SELECT doc_id, dl, dl // $LenBucketWidth AS bucket,
       |    ('0x' || substring(md5('$LenSeed:' || doc_id), 1, 8))::BIGINT % $LenShards AS shard
       |  FROM t WHERE dl > 0),
       |r AS (SELECT *, (row_number() OVER (PARTITION BY bucket, shard
       |    ORDER BY dl DESC, doc_id ASC) - 1) // $LenBatchSize AS batch FROM b),
       |g AS (SELECT bucket, shard, batch, count(*)::BIGINT AS n_docs,
       |    max(dl) AS max_dl, sum(dl)::BIGINT AS sum_dl,
       |    min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |  FROM r GROUP BY 1, 2, 3)
       |SELECT bucket, shard, batch, n_docs, max_dl, sum_dl, first_doc, last_doc,
       |  (n_docs * max_dl - sum_dl)::BIGINT AS pad_waste,
       |  (n_docs * max_dl - sum_dl)::DOUBLE / (n_docs * max_dl)::DOUBLE AS waste_frac
       |FROM g ORDER BY bucket, shard, batch""".stripMargin

  private val BudgetTokens = 3000L
  private val BudgetShards = 4
  private val BudgetSeed = "budget"

  /** q81: token-budget selection over `documents` (budget 3000 tokens
    * per language across 4 shards — non-trivial cuts at sf0.01:
    * strata carry far more than 750 tokens per shard). Row-level exact
    * including the running sums. */
  def q81TokenBudget(spark: SparkSession, dir: String): DataFrame =
    takeTokenBudget(Tables.documents(spark, dir), "doc_id", "lang",
        TextFunctions.tokenCount(col("text")), BudgetTokens, BudgetShards,
        BudgetSeed)
      .select(col("doc_id"), col("stratum").as("lang"), col("bucket"),
        col("shard"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("lang"), col("shard"), col("cum_tokens"), col("doc_id"))

  val q81TokenBudgetSql: String = {
    val perShard = BudgetTokens / BudgetShards
    s"""WITH t AS (SELECT doc_id, lang,
       |    ('0x' || substring(md5('$BudgetSeed:' || doc_id), 1, 8))::BIGINT AS bucket,
       |    len(${TextQueries.tokSqlExpr})::BIGINT AS n_tokens
       |  FROM documents),
       |s AS (SELECT *, bucket % $BudgetShards AS shard FROM t),
       |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang, shard
       |        ORDER BY bucket, doc_id)::BIGINT AS cum_tokens FROM s)
       |SELECT doc_id, lang, bucket, shard, n_tokens, cum_tokens
       |FROM c WHERE cum_tokens - n_tokens < $perShard
       |ORDER BY lang, shard, cum_tokens, doc_id""".stripMargin
  }

  private val TopFrac = 0.5
  private val PctAccuracy = 10000

  /** The production top-p quality selector: keep each language's top
    * `frac` of documents by quality, cut at a `percentile_approx`
    * threshold — one sketch aggregation (partial+final over the lang
    * key) + one broadcast of the per-language cutoffs + a stateless
    * filter. No sort, no window: the rank-exact formulation costs a full
    * per-language sort, which is the 100 TB non-starter this exists to
    * avoid. Kept count sits within frac·n ± (n/accuracy + cutoff tie
    * run) of the exact cut — the bound q61 gates. */
  def topQualityFraction(docs: DataFrame, frac: Double,
                         accuracy: Int = PctAccuracy): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac=$frac out of (0,1]")
    val scored = qualityScored(docs)
    val thr = scored.groupBy(col("lang"))
      .agg(expr(s"percentile_approx(quality, ${1 - frac}, $accuracy)").as("q_cutoff"))
    scored.join(broadcast(thr), Seq("lang"))
      .filter(col("quality") >= col("q_cutoff"))
  }

  /** q61: TOP-P QUALITY SELECTION — "keep the best `TopFrac` of each
    * language by quality score", the other standard curation cut next to
    * the fixed threshold q54/q56 apply. Two implementations run under
    * one gate (the q50 twin pattern):
    *
    *  - EXACT (oracle-mirrorable): rank by (quality desc, doc_id) per
    *    language, keep rank ≤ ceil(frac·n). Deterministic to the row —
    *    but it costs a full per-language sort, which at 100 TB is the
    *    expensive formulation;
    *  - PRODUCTION: one `percentile_approx` sketch pass computes the
    *    per-language cutoff, then a stateless map-side filter keeps
    *    rows above it — no sort, no per-row shuffle, the same two-job
    *    shape as the q44 sampler. The sketch's rank-error guarantee
    *    (≤ n/accuracy) plus the cutoff value's tie run bound how far
    *    its kept count can sit from frac·n.
    *
    * Gate row per language: `n_total`, `n_kept` (exact), the exact
    * cutoff data value `cutoff_quality` (4-dp score both engines agree
    * on — the q54-proven parity), and `approx_in_band` — the production
    * path's kept count within frac·n ± (n/accuracy + tie_run + 1),
    * which holds for ANY sketch outcome inside the guarantee, so
    * partition-order nondeterminism in the sketch cannot flake the
    * gate. The oracle recomputes the anchors + literal TRUE. */
  def q61TopQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // referenced four times (totals, rank path, sketch, approx count)
    val scored = qualityScored(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("quality"))
      .localCheckpoint(true)
    val totals = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val kept = scored.withColumn("rk", row_number().over(w))
      .join(totals, Seq("lang"))
      .filter(col("rk") <= ceil(lit(TopFrac) * col("n_total")))
    val exact = kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), min(col("quality")).as("cutoff_quality"))
    val thr = scored.groupBy(col("lang"))
      .agg(expr(s"percentile_approx(quality, ${1 - TopFrac}, $PctAccuracy)").as("t"))
    val approxKept = scored.join(thr, Seq("lang"))
      .filter(col("quality") >= col("t"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_approx"))
    val tieRuns = scored.groupBy(col("lang"), col("quality"))
      .agg(count(lit(1)).as("tr"))
      .groupBy(col("lang")).agg(max(col("tr")).as("tie_run"))
    totals.join(exact, Seq("lang"), "left")
      .join(approxKept, Seq("lang"), "left")
      .join(tieRuns, Seq("lang"), "left")
      .select(col("lang"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("cutoff_quality"),
        (abs(coalesce(col("n_approx"), lit(0L)) - lit(TopFrac) * col("n_total")) <=
          col("n_total").cast("double") / PctAccuracy + col("tie_run") + lit(1.0))
          .as("approx_in_band"))
      .orderBy(col("lang"))
  }

  val q61TopQualitySql: String =
    s"""WITH $qualityCtes,
       |tot AS (SELECT lang, count(*)::BIGINT AS n_total FROM qual GROUP BY 1),
       |rk AS (SELECT doc_id, lang, quality,
       |       row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk
       |       FROM qual),
       |kept AS (SELECT r.* FROM rk r JOIN tot USING (lang)
       |         WHERE r.rk <= ceil($TopFrac * n_total))
       |SELECT lang, n_total, count(*)::BIGINT AS n_kept,
       |  min(quality) AS cutoff_quality, TRUE AS approx_in_band
       |FROM kept JOIN tot USING (lang)
       |GROUP BY lang, n_total ORDER BY lang""".stripMargin

  /** The funnel's shared oracle CTEs (quality → keep → surv → uniq),
    * mirrored by [[funnelStages]]; `uniq` retains text for the q56
    * near-dup stage. */
  /** The quality-score CTEs alone (tok0 → rat → qual), mirrored by
    * [[qualityScored]]; shared by the funnel oracles and q61. */
  private def qualityCtes: String = qualityCtesOf("documents")

  private def qualityCtesOf(src: String): String = {
    val stops = graft.functions.TextFunctions.stopwords
      .map(s => s"'$s'").mkString(", ")
    s"""tok0 AS (SELECT doc_id, lang, text, ${TextQueries.tokSqlExpr} AS toks FROM $src),
       |rat AS (SELECT doc_id, lang, text, len(toks)::bigint AS n_tokens,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw
       |FROM tok0),
       |qual AS MATERIALIZED (SELECT *, round(0.25 * alpha_raw + 0.25 * stop_raw
       |        + 0.25 * least(1.0, n_tokens::double / 100.0)
       |        + 0.25 * (1.0 - punct_raw), 4) AS quality FROM rat)""".stripMargin
  }
  // MATERIALIZED on qual/keep/uniq/samp: DuckDB inlines CTE references,
  // so every extra reference (the funnel reports read keep/uniq twice
  // more for their counts) re-runs the tokenizer-heavy quality chain —
  // the hint pins one evaluation without changing a single value.

  private def funnelBaseCtes: String = funnelBaseCtesOf("documents")

  private def funnelBaseCtesOf(src: String): String = {
    s"""${qualityCtesOf(src)},
       |keep AS MATERIALIZED (SELECT * FROM qual WHERE quality >= $QualityMin AND n_tokens >= $MinTokens),
       |surv AS (SELECT min(doc_id) AS doc_id FROM keep GROUP BY md5(text)),
       |uniq AS MATERIALIZED (SELECT k.doc_id, k.lang, k.text, k.n_tokens FROM keep k
       |         WHERE k.doc_id IN (SELECT doc_id FROM surv))""".stripMargin
  }

  /** The q44 mixture-sample stage as a `samp` CTE over `src` (doc_id,
    * lang, n_tokens) — factored so the funnel tail and q106's drift
    * oracle share the one threshold formulation. */
  private def sampCteSql(src: String): String = {
    val cases = MixRates
      .map { case (s, r) => s"WHEN '$s' THEN ${rateThreshold(r)}" }
      .mkString(" ")
    s"""samp AS MATERIALIZED (SELECT doc_id, lang, n_tokens FROM $src
       |         WHERE ('0x' || substring(md5('$MixSeed:' || doc_id), 1, 8))::BIGINT
       |               < CASE lang $cases ELSE -1 END)""".stripMargin
  }

  /** The sample → shard → pack → report tail of the funnel oracle over a
    * source CTE `src` (doc_id, lang, n_tokens); `extraCtes`/`extraCols`/
    * `extraJoins` splice additional per-stage count CTE definitions,
    * select columns, and report joins between n_unique and n_sampled
    * (q56's n_neardup; q69's n_neardup + n_semantic). */
  private def funnelTailSql(src: String, extraCtes: String,
                            extraCols: String,
                            extraJoins: String = ""): String = {
    s"""${sampCteSql(src)},
       |shd AS (SELECT *, ('0x' || substring(md5('$PackSeed:' || doc_id), 1, 8))::BIGINT % $PackShards AS shard FROM samp),
       |offs AS (SELECT *, (sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT AS start_off
       |  FROM shd),
       |packed AS (SELECT *, (start_off // $PackBudget)::BIGINT AS pack_id FROM offs),
       |f0 AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
       |f1 AS (SELECT lang, count(*)::BIGINT AS n_quality FROM keep GROUP BY 1),
       |f2 AS (SELECT lang, count(*)::BIGINT AS n_unique FROM uniq GROUP BY 1),
       |$extraCtes
       |f3 AS (SELECT lang, count(*)::BIGINT AS n_sampled FROM samp GROUP BY 1),
       |f4 AS (SELECT lang, count(DISTINCT (shard, pack_id))::BIGINT AS n_packs,
       |         sum(n_tokens)::BIGINT AS pack_tokens FROM packed GROUP BY 1)
       |SELECT f0.lang, n_docs,
       |  coalesce(n_quality, 0) AS n_quality,
       |  coalesce(n_unique, 0) AS n_unique,
       |  $extraCols
       |  coalesce(n_sampled, 0) AS n_sampled,
       |  coalesce(n_packs, 0) AS n_packs,
       |  coalesce(pack_tokens, 0) AS pack_tokens
       |FROM f0 LEFT JOIN f1 USING (lang) LEFT JOIN f2 USING (lang)
       |  $extraJoins
       |  LEFT JOIN f3 USING (lang) LEFT JOIN f4 USING (lang)
       |ORDER BY lang""".stripMargin
  }

  val q54CurationFunnelSql: String =
    s"""WITH $funnelBaseCtes,
       |${funnelTailSql("uniq", "", "")}""".stripMargin

  /** q106: MIXTURE DRIFT THROUGH THE FUNNEL — [[CorpusReport.distributionDrift]]
    * (q96's exact-integer TV comparator) applied to the curation pipeline
    * itself: v1 = the raw corpus, v2 = the funnel's sampled output
    * (quality filter → exact dedup → seeded mixture sample, q54's
    * stages). This is the monitor a corpus build publishes next to its
    * funnel report: not how many documents each stage kept (q54), but
    * how far the RESULTING language mixture moved from the raw crawl —
    * per-language share_old/share_new, the exact |n·M − m·N| drift
    * numerator, and the grand-total TV row a recipe owner alerts on.
    *
    * Oracle: the funnel base CTEs + the factored `samp` CTE + the
    * factored drift tail — the composition is value-checked end to end,
    * with both halves shared verbatim with q54's and q96's oracles.
    *
    * Scale: the funnel is q54's shape (filters + one dedup shuffle +
    * map-side sample); the drift adds two O(#languages) count
    * aggregates (map-side partial), a tiny full-outer join, and a
    * broadcast totals fold — the monitor is free next to the pipeline
    * it watches, and no stage rescans the corpus (the funnel's `keep`
    * is checkpointed once, [[funnelStages]]). */
  def q106FunnelDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("lang"))
    val samp = curationSampled(spark, dir).select(col("lang"))
    CorpusReport.distributionDrift(docs, samp, Seq("lang"))
  }

  val q106FunnelDriftSql: String =
    s"""WITH $funnelBaseCtes,
       |${sampCteSql("uniq")},
       |${CorpusReport.driftTailSql(Seq("lang"), "documents", "samp")}""".stripMargin

  val q56NearDupFunnelSql: String =
    s"""WITH $funnelBaseCtes,
       |${TextQueries.simhashPairsCtes("uniq")},
       |${OracleSql.closureCtes("pairs")},
       |nd AS MATERIALIZED (SELECT u.doc_id, u.lang, u.n_tokens FROM uniq u
       |       WHERE u.doc_id NOT IN (SELECT id FROM clus WHERE id <> comp)),
       |${funnelTailSql("nd",
          "f2b AS (SELECT lang, count(*)::BIGINT AS n_neardup FROM nd GROUP BY 1),",
          "coalesce(n_neardup, 0) AS n_neardup,",
          "LEFT JOIN f2b USING (lang)")}""".stripMargin

  /** CANONICAL-SURVIVOR SELECTION BY SCORE — the "keep the best copy"
    * variant of near-dup cluster dedup. q52/q56 keep each cluster's MIN
    * doc_id (arrival order); a real curation run usually keeps the
    * highest-QUALITY member of each cluster instead (dropping a clean
    * original because a boilerplate-wrapped mirror has a smaller id is
    * the wrong trade). Given cluster memberships (id, comp) and per-id
    * scores, emits one row per clustered doc with its cluster's argmax-
    * score canonical (ties broken by MIN id, so selection is total and
    * engine-independent).
    *
    * Scale: the membership frame is the pair-graph's node set (≪ corpus);
    * the argmax is one `max_by` aggregate over it — partial+final, ≤ one
    * struct per comp per partition shuffles, no window sort — and the
    * per-comp canonical frame (one row per cluster) broadcasts back onto
    * the memberships under AQE. The corpus itself is touched only by the
    * score projection, already narrowed to cluster members via the
    * broadcast semi-join below. */
  def canonicalByScore(members: DataFrame, scored: DataFrame): DataFrame = {
    // max over (score, -id): highest score wins, smallest id on ties —
    // -id is distinct within a comp, so the ordering struct is total and
    // max_by can never see equal keys (engine-dependent pick impossible)
    val m = members.join(scored, Seq("id"))
    val canon = m.groupBy(col("comp"))
      .agg(max_by(struct(col("id"), col("score")),
        struct(col("score"), (-col("id")).as("nid"))).as("c"))
      .select(col("comp"), col("c.id").as("canon_id"),
        col("c.score").as("canon_score"))
    m.join(broadcast(canon), Seq("comp"))
      .select(col("id"), col("comp"), col("score"),
        col("canon_id"), col("canon_score"),
        (col("id") === col("canon_id")).as("kept"))
  }

  /** q108: quality-canonical survivors over the q52 simhash clusters —
    * each clustered document with its cluster's argmax-quality canonical
    * (min-id tie-break), row-level exact including the kept booleans.
    * The oracle recomputes the edge set (q21's shared CTEs), closes it
    * recursively (q52's independent formulation), and picks the
    * canonical with a rank window — a different argmax formulation than
    * the `max_by` struct ordering, so tie-break semantics are
    * value-checked, not mirrored. */
  def q108QualityCanon(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // referenced three times (the narrowing semi-join, the score join,
    // and the canonical agg) — materialize the pair-pipeline + CC result
    // once, or every reference re-runs the whole clustering (measured:
    // 15.2 s → 9.5 s isolated at sf0.1, reps 3)
    val members = Dedup.clusterComponents(
        Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
      .localCheckpoint(true)
    // score ONLY cluster members: the corpus narrows through the
    // broadcast semi-join BEFORE the tokenizer-heavy quality projection
    // runs (scoring all docs to use |members| of them is the waste)
    val scored = qualityScored(
        docs.join(broadcast(members.select(col("id").as("doc_id"))),
          Seq("doc_id"), "left_semi"))
      .select(col("doc_id").as("id"), col("quality").as("score"))
    canonicalByScore(members, scored)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        col("score").as("quality"), col("canon_id"),
        col("canon_score").as("canon_quality"), col("kept"))
      .orderBy(col("doc_id"))
  }

  val q108QualityCanonSql: String =
    s"""WITH $qualityCtes,
       |${TextQueries.simhashPairsCtes("documents")},
       |${OracleSql.closureCtes("pairs")},
       |m AS MATERIALIZED (SELECT c.id, c.comp, q.quality FROM clus c
       |      JOIN qual q ON q.doc_id = c.id),
       |canon AS (SELECT comp, id AS canon_id, quality AS canon_quality FROM m
       |          QUALIFY row_number() OVER (PARTITION BY comp
       |            ORDER BY quality DESC, id ASC) = 1)
       |SELECT m.id AS doc_id, m.comp AS cluster_id, m.quality,
       |  c.canon_id, c.canon_quality, (m.id = c.canon_id) AS kept
       |FROM m JOIN canon c ON m.comp = c.comp
       |ORDER BY doc_id""".stripMargin

  /** q113: the curation funnel with q108's QUALITY-CANONICAL survivor
    * rule in the near-dup stage — the composition [[graft.jobs.CurateJob]]
    * ships behind `--canonical-survivors`, gated. Per cluster the
    * deletion COUNT is identical to q56 (one survivor each), so funnel
    * counts alone cannot distinguish the rules when near-dup copies
    * share a language; the gate therefore also emits `surv_id_sum` —
    * the exact integer sum of surviving doc_ids per language — which
    * moves whenever ANY cluster's surviving copy changes. The oracle
    * re-derives the canonical picks with a rank window over the
    * recursively-closed edge set (q108's independent argmax
    * formulation) inside q56's funnel CTEs.
    *
    * Scale: q56's shape plus the q108 canonical aggregate — the score
    * projection runs only on cluster members (broadcast semi-join), the
    * argmax is partial+final, and the canonical frame broadcasts back.
    * Nothing widens. */
  def q113CanonFunnel(spark: SparkSession, dir: String): DataFrame = {
    val (docs, keep, uniqT) = funnelStages(spark, dir)
    val uniq = uniqT.localCheckpoint(true)
    // referenced by the score semi-join and the canonical agg (q108)
    val members = Dedup.clusterComponents(
        Dedup.simhashPairs(uniq, "doc_id", "text", maxHamming = 3))
      .localCheckpoint(true)
    val scored = qualityScored(
        uniq.join(broadcast(members.select(col("id").as("doc_id"))),
          Seq("doc_id"), "left_semi"))
      .select(col("doc_id").as("id"), col("quality").as("score"))
    val nonSurvivors = canonicalByScore(members, scored)
      .filter(!col("kept")).select(col("id").as("doc_id"))
    // referenced by the sampler, the count, and the id-sum signature
    val nd = uniq.join(nonSurvivors, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .localCheckpoint(true)
    val samp = mixtureSample(nd, "doc_id", "lang", MixRates.toMap, MixSeed)
    val packed = packAssignments(samp, "lang", "doc_id", col("n_tokens"),
      PackBudget, PackShards, PackSeed)
    funnelReport(docs,
        Seq("n_quality" -> keep, "n_unique" -> uniq, "n_canon" -> nd,
          "n_sampled" -> samp), packed)
      .join(nd.groupBy(col("lang")).agg(sum(col("doc_id")).as("surv_id_sum")),
        Seq("lang"), "left")
      .withColumn("surv_id_sum", coalesce(col("surv_id_sum"), lit(0L)))
      .orderBy(col("lang"))
  }

  val q113CanonFunnelSql: String =
    s"""WITH $funnelBaseCtes,
       |${TextQueries.simhashPairsCtes("uniq")},
       |${OracleSql.closureCtes("pairs")},
       |cm AS MATERIALIZED (SELECT c.id, c.comp, q.quality FROM clus c
       |       JOIN qual q ON q.doc_id = c.id),
       |canon AS (SELECT comp, id AS canon_id FROM cm
       |          QUALIFY row_number() OVER (PARTITION BY comp
       |            ORDER BY quality DESC, id ASC) = 1),
       |nd AS MATERIALIZED (SELECT u.doc_id, u.lang, u.n_tokens FROM uniq u
       |       WHERE u.doc_id NOT IN
       |         (SELECT id FROM cm WHERE id NOT IN (SELECT canon_id FROM canon))),
       |${funnelTailSql("nd",
          """f2b AS (SELECT lang, count(*)::BIGINT AS n_canon FROM nd GROUP BY 1),
            |f2c AS (SELECT lang, sum(doc_id)::BIGINT AS surv_id_sum FROM nd GROUP BY 1),""".stripMargin,
          """coalesce(n_canon, 0) AS n_canon,
            |  coalesce(surv_id_sum, 0) AS surv_id_sum,""".stripMargin,
          "LEFT JOIN f2b USING (lang) LEFT JOIN f2c USING (lang)")}""".stripMargin

  // Rebalance gate parameters (q111): integer target weights summing to
  // 10. Chosen against the fixture's lang counts so every regime is
  // exercised: en is cut hard (218 → 105), fr halves (64 → 35), zh/es
  // trim (75/73 → 70), and de sits EXACTLY at its cap (70 → 70) — the
  // binding stratum that determines the feasible total.
  private[graft] val RebWeights: Seq[(String, Long)] =
    Seq("en" -> 3L, "zh" -> 2L, "de" -> 2L, "fr" -> 1L, "es" -> 2L)
  private val RebShards = 4
  private val RebSeed = "rebalance"

  /** REBALANCE TO A TARGET MIXTURE — downsample so the surviving corpus
    * matches integer target weights EXACTLY (the DoReMi-style mixture-
    * matching step q44's fixed rates cannot express: there the rates are
    * the input; here the TARGET SHARES are, and the rates fall out of
    * the data). Semantics, all in exact integer arithmetic (the q96/q97
    * determinism discipline — no double ever touches a keep decision):
    *
    *  - feasible total: T = min_s ⌊n_s·W / w_s⌋ over strata with
    *    weight w_s > 0 (W = Σw); the binding stratum keeps everything;
    *  - per-stratum quota: required_s = ⌊w_s·T / W⌋ — Σ required_s ≤ T
    *    with each stratum within one row of its exact share;
    *  - selection: each stratum keeps its GLOBAL bottom-required_s rows
    *    by (seeded hash bucket, id). Deterministic and reproducible;
    *    exact even when hash streams are uneven (a per-shard quota
    *    split is NOT — a stream can hold fewer rows than its
    *    sub-quota, silently under-filling the stratum).
    *
    * Scale: two corpus scans — a count pass whose shuffle carries one
    * row per stratum (map-side partial), and a selection pass ranked in
    * TWO LEVELS: a per-(stratum, shard) rank window (bounded streams,
    * q81's discipline) prefilters to each shard's bottom-required_s —
    * any global bottom-required_s row has at most required_s − 1
    * same-shard predecessors, so the prefilter provably loses nothing —
    * and the final per-stratum rank runs over ≤ shards·required_s rows,
    * never the corpus. The quota frame is |strata| rows and broadcasts;
    * the feasible-total fold is one 1-row aggregate. Strata absent from
    * `weights` are dropped before either pass. Overflow: n_s·W fits
    * BIGINT until ~10¹⁷ rows per stratum. */
  def rebalanceToTarget(docs: DataFrame, idCol: String, strataCol: String,
                        weights: Seq[(String, Long)], shards: Int,
                        seed: String): DataFrame = {
    require(shards >= 1, s"shards=$shards must be positive")
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be non-empty and positive")
    val wTotal = weights.map(_._2).sum
    val wCol = weights.foldLeft(lit(0L)) { case (acc, (s, w0)) =>
      when(col("stratum") === s, lit(w0)).otherwise(acc)
    }
    val base = docs
      .select(col(idCol).cast("long").as("id"), col(strataCol).as("stratum"))
      .withColumn("w", wCol).filter(col("w") > 0)
    val counts = base.groupBy(col("stratum"), col("w"))
      .agg(count(lit(1)).as("n_before"))
    val t = counts.agg(min(expr(s"n_before * $wTotal div w")).as("t_total"))
    val quotas = counts.crossJoin(broadcast(t))
      .withColumn("required", expr(s"w * t_total div $wTotal"))
      .select(col("stratum"), col("n_before"), col("required"))
    val preW = Window.partitionBy(col("stratum"), col("shard"))
      .orderBy(col("bucket"), col("id"))
    val finW = Window.partitionBy(col("stratum"))
      .orderBy(col("bucket"), col("id"))
    base
      .withColumn("bucket", hashBucket(col("id"), seed))
      .withColumn("shard", pmod(col("bucket"), lit(shards.toLong)))
      .withColumn("prn", row_number().over(preW).cast("long"))
      .join(broadcast(quotas), Seq("stratum"))
      .filter(col("prn") <= col("required")) // bounds the final rank's input
      .withColumn("rn", row_number().over(finW).cast("long"))
      .filter(col("rn") <= col("required"))
      .drop("prn")
  }

  /** q111: rebalance `documents` to the target language mixture —
    * row-level exact including every rank, quota, and the binding-
    * stratum boundary (de keeps exactly n_before rows). The oracle
    * re-derives the feasible total, quotas, and shard ranks in its own
    * CTE formulation over the same md5 buckets. */
  def q111Rebalance(spark: SparkSession, dir: String): DataFrame =
    rebalanceToTarget(Tables.documents(spark, dir), "doc_id", "lang",
        RebWeights, RebShards, RebSeed)
      .select(col("id").as("doc_id"), col("stratum").as("lang"),
        col("bucket"), col("shard"), col("rn"),
        col("n_before"), col("required"))
      .orderBy(col("lang"), col("rn"))

  val q111RebalanceSql: String = {
    val wTotal = RebWeights.map(_._2).sum
    val cases = RebWeights
      .map { case (s, w0) => s"WHEN '$s' THEN $w0" }.mkString(" ")
    s"""WITH b AS (SELECT doc_id, lang,
       |    ('0x' || substring(md5('$RebSeed:' || doc_id), 1, 8))::BIGINT AS bucket,
       |    (CASE lang $cases ELSE 0 END)::BIGINT AS w
       |  FROM documents),
       |f AS (SELECT * FROM b WHERE w > 0),
       |c AS (SELECT lang, w, count(*)::BIGINT AS n_before FROM f GROUP BY 1, 2),
       |t AS (SELECT min(n_before * $wTotal // w)::BIGINT AS t_total FROM c),
       |q AS (SELECT lang, n_before, (w * t_total // $wTotal)::BIGINT AS required
       |      FROM c, t),
       |s AS (SELECT f.*, bucket % $RebShards AS shard FROM f),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang
       |        ORDER BY bucket, doc_id)::BIGINT AS rn FROM s)
       |SELECT r.doc_id, r.lang, r.bucket, r.shard, r.rn, q.n_before, q.required
       |FROM r JOIN q USING (lang)
       |WHERE r.rn <= required
       |ORDER BY lang, rn""".stripMargin
  }

  // q119 parameters: ring distance + shard count for negative sampling.
  private val NegK = 3
  private val NegShards = 4
  private val NegSeed = "negatives"

  /** CONTRASTIVE NEGATIVE SAMPLING — the training-pair construction a
    * retrieval/embedding model build needs: for every anchor document,
    * `k` pseudo-random negatives drawn WITHOUT a cross join and without
    * RNG state, by reading the next `k` documents on a seeded-hash RING:
    * documents order by (md5 bucket, id) within a hash shard, and
    * anchor i's j-th negative is the document at ring position
    * `(i − 1 + j) mod n + 1` of its shard. The hash order is
    * content-independent, so ring neighbors are a uniform draw from the
    * shard (the distributed form of "in-batch negatives" — the batch is
    * the shard, fixed by seed, so the pairing is fully reproducible; a
    * later pass can anti-join known positives exactly like q56's
    * survivor deletion).
    *
    * Scale: the two window functions (rank + shard size) share one
    * hash exchange on `shard`, whose per-partition sort is bounded by
    * the shard — the q81 discipline; the ring lookup is ONE equi-join
    * on (shard, rank) carrying k·|docs| rows. No cross join, no RNG,
    * no driver state. Requires shard size > k for distinct negatives
    * (4 shards × sf0.01's 500 docs ≫ 3; at 100 TB you raise shards to
    * bound the sort and the property only strengthens). */
  def negativeSamples(docs: DataFrame, idCol: String, shards: Int,
                      k: Int, seed: String): DataFrame = {
    require(shards >= 1 && k >= 1, s"shards=$shards k=$k must be positive")
    val rankW = Window.partitionBy(col("shard")).orderBy(col("bucket"), col("id"))
    val sizeW = Window.partitionBy(col("shard"))
    val ring = docs
      .select(col(idCol).cast("long").as("id"))
      .withColumn("bucket", hashBucket(col("id"), seed))
      .withColumn("shard", pmod(col("bucket"), lit(shards.toLong)))
      .withColumn("rn", row_number().over(rankW).cast("long"))
      .withColumn("n", count(lit(1)).over(sizeW))
      .localCheckpoint(true) // anchors + ring-lookup side both read it
    val anchors = ring
      .withColumn("j", explode(sequence(lit(1L), lit(k.toLong))))
      .withColumn("neg_rank", pmod(col("rn") - 1L + col("j"), col("n")) + 1L)
    anchors.as("a")
      .join(ring.select(col("shard"), col("rn").as("neg_rank"),
        col("id").as("neg_doc_id")).as("b"), Seq("shard", "neg_rank"))
      .select(col("a.id").as("doc_id"), col("j"), col("neg_doc_id"),
        col("shard"), col("rn"), col("neg_rank"))
  }

  /** q119: 3 ring negatives per document — row-level exact (every
    * anchor, position, and drawn negative) against the oracle's rank
    * formulation over the same md5 buckets. */
  def q119NegPairs(spark: SparkSession, dir: String): DataFrame =
    negativeSamples(Tables.documents(spark, dir), "doc_id",
        NegShards, NegK, NegSeed)
      .orderBy(col("doc_id"), col("j"))

  val q119NegPairsSql: String =
    s"""WITH b AS (SELECT doc_id,
       |    ('0x' || substring(md5('$NegSeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |  FROM documents),
       |r AS (SELECT doc_id, bucket, bucket % $NegShards AS shard FROM b),
       |w AS (SELECT *,
       |    row_number() OVER (PARTITION BY shard ORDER BY bucket, doc_id)::BIGINT AS rn,
       |    count(*) OVER (PARTITION BY shard)::BIGINT AS n
       |  FROM r),
       |x AS (SELECT doc_id, j, shard, rn, ((rn - 1 + j) % n) + 1 AS neg_rank
       |  FROM w, (SELECT unnest(range(1, ${NegK + 1}))::BIGINT AS j))
       |SELECT x.doc_id, x.j, w2.doc_id AS neg_doc_id, x.shard, x.rn, x.neg_rank
       |FROM x JOIN w w2 ON w2.shard = x.shard AND w2.rn = x.neg_rank
       |ORDER BY x.doc_id, x.j""".stripMargin

  // q128 parameters: seed, kept sample size.
  private val WsSeed = "wsample"
  private val WsK = 60

  /** WEIGHTED sampling without replacement (Efraimidis & Spirakis 2006,
    * IPL — "weighted random sampling with a reservoir"): draw exactly
    * `k` rows with inclusion driven by a positive integer weight — the
    * fixed-k counterpart of rate sampling that [[mixtureSample]] (uniform
    * rates) and [[takeStratifiedK]] (uniform within stratum) cannot
    * express ("sample 10M docs proportional to length/quality"). Each
    * row draws u = (seeded-hash bucket + 1)/2³² ∈ (0, 1] and keys on
    * ln(u)/w — the E-S exponential-race key in log space (order-
    * isomorphic to u^(1/w); log form avoids pow's underflow at large w).
    * The k largest keys are EXACTLY a weighted draw without replacement.
    * Rows with weight <= 0 are dropped (zero weight = never sampled).
    *
    * Determinism: u is exact in both engines (integer+1 divided by a
    * power of two — an exact IEEE operation), so both engines feed
    * identical doubles to ln; the gate emits rank + integer evidence
    * (bucket, weight) with doc_id de-tie, never the double key (q95's
    * ln/ulp discipline), and distinct buckets separate adjacent keys by
    * ~16 orders of magnitude more than an ulp (spec-pinned gap floor).
    *
    * Scale: one stateless narrow map (hash + ln per row), then
    * TakeOrderedAndProject — per-partition k-heaps, merged on the
    * driver; no shuffle at all. The key doubles as mergeable state: the
    * same top-k over keys is [[GraftUdfs.BottomKAggregator]]'s bottom-k
    * shape, so a per-stratum variant aggregates with <= k rows per
    * partition (q66's argument with E-S keys instead of raw hashes). */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k=$k")
    docs.filter(col(weightCol) > 0)
      .withColumn("bucket", hashBucket(col(idCol), seed))
      .withColumn("es_key",
        log((col("bucket") + 1L).cast("double") / lit(4294967296.0)) /
          col(weightCol).cast("double"))
      .orderBy(col("es_key").desc, col(idCol).asc).limit(k)
  }

  /** q128: E-S weighted sample of the documents fixture, weight =
    * `n_chars` (length-proportional sampling — the cheap proxy for
    * token-budget-uniform selection). Integer-evidence gate row. */
  def q128WeightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "n_chars", WsK, WsSeed)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("es_key").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("lang"), col("n_chars"),
        col("bucket"))
      .orderBy(col("rank"))

  val q128WeightedSampleSql: String =
    s"""WITH s AS (SELECT doc_id, lang, n_chars,
       |    ('0x' || substring(md5('$WsSeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |  FROM documents WHERE n_chars > 0),
       |k AS (SELECT *, ln((bucket + 1) / 4294967296.0) / n_chars AS es_key FROM s)
       |SELECT row_number() OVER (ORDER BY es_key DESC, doc_id) AS rank,
       |  doc_id, lang, n_chars, bucket
       |FROM k ORDER BY es_key DESC, doc_id LIMIT $WsK""".stripMargin

  // q130 parameters: per-stratum draw size (seed shared with q128).
  private val WtK = 15

  /** PER-STRATUM weighted exact-k — [[weightedSample]]'s E-S draw
    * composed with [[takeStratifiedK]]'s mergeable selection: exactly
    * `k` docs per stratum, inclusion proportional to the weight
    * ("15 M docs per language, favoring long ones"). The E-S key
    * quantizes order-isomorphically into a BIGINT (negate — keys are
    * all < 0 — scale by 2⁵², floor: every step is an exact or
    * deterministic IEEE operation), which lets the selection ride
    * [[graft.functions.GraftUdfs.BottomKAggregator]] UNCHANGED — the
    * shuffle carries ≤ k (key, id) pairs per partition regardless of
    * stratum size, no per-stratum sort anywhere (q66's scale argument
    * with weighted semantics, closing the scaladoc claim q128 makes).
    *
    * Quantization honesty: 2⁻⁵² granularity is ~4 key-ulps, so the
    * integer order can only disagree with the exact double order for
    * keys within ~1e-16 of each other — the same separation the gate
    * already relies on cross-engine (TrainingDataSpec pins the
    * fixture's adjacent-key gap floor at ≥ 1e-9); id de-ties exactly
    * in both engines either way. The gate emits rank + integer
    * evidence, never the key (q95's ln/ulp discipline). */
  /** The E-S key quantized order-isomorphically into a BIGINT (negate —
    * keys are all < 0 — scale by 2⁵², floor; every step exact or
    * deterministic IEEE). SMALLER qk = more preferred (first drawn).
    * Shared by [[weightedStratifiedK]] and [[sampleIngest]] — the integer
    * form is what makes the selection both mergeable-aggregate-ready and
    * safe to persist as state (no double ever round-trips storage). */
  def esQuantKey(id: Column, weight: Column, seed: String): Column = {
    val esKey =
      log((hashBucket(id, seed) + 1L).cast("double") / lit(4294967296.0)) /
        weight.cast("double")
    floor((lit(0.0) - esKey) * lit(4503599627370496.0)).cast("long")
  }

  def weightedStratifiedK(docs: DataFrame, idCol: String, strataCol: String,
                          weightCol: String, k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k=$k")
    val qk = esQuantKey(col(idCol), col(weightCol), seed)
    val bottomK = org.apache.spark.sql.functions.udaf(
      new graft.functions.GraftUdfs.BottomKAggregator(k))
    docs.filter(col(weightCol) > 0)
      .select(col(strataCol).cast("string").as("stratum"), qk.as("qk"),
        col(idCol).cast("long").as("id"))
      .groupBy(col("stratum"))
      .agg(bottomK(col("qk"), col("id")).as("sel"))
      .select(col("stratum"), posexplode(col("sel")))
      .select(col("stratum"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("id"))
  }

  /** q130: exactly [[WtK]] docs per language, weight = `n_chars`;
    * rank-per-stratum gate against the oracle's window formulation
    * (the per-stratum sort the aggregator exists to avoid). */
  def q130WeightedTake(spark: SparkSession, dir: String): DataFrame =
    weightedStratifiedK(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "lang", "n_chars", WtK, WsSeed)
      .select(col("stratum").as("lang"), col("rank"), col("id").as("doc_id"))
      .orderBy(col("lang"), col("rank"))

  val q130WeightedTakeSql: String =
    s"""WITH s AS (SELECT doc_id, lang, n_chars,
       |    ('0x' || substring(md5('$WsSeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |  FROM documents WHERE n_chars > 0),
       |k AS (SELECT *, ln((bucket + 1) / 4294967296.0) / n_chars AS es_key FROM s),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rank
       |  FROM k)
       |SELECT lang, rank::BIGINT AS rank, doc_id FROM r WHERE rank <= $WtK
       |ORDER BY lang, rank""".stripMargin

  /** INCREMENTAL E-S weighted sample — a persistent top-k state folded
    * per ingest batch, closing the batch→incremental induction for the
    * weighted-sampling family (the q65/q110/q131 pattern applied to
    * [[weightedSample]]). The state is the current k selected rows with
    * their quantized keys ([[esQuantKey]] — integers, so nothing lossy
    * ever round-trips parquet); each batch computes its OWN top-k
    * (TakeOrderedAndProject — per-partition k-heaps, zero exchanges over
    * batch volume), unions it with the ≤ k state rows, dedups by id, and
    * keeps the k smallest keys.
    *
    * Why that fold is exact: the E-S key is a deterministic pure
    * function of (id, weight), and top-k is a monotone mergeable
    * summary — top-k(A ∪ B) = top-k(top-k(A) ∪ top-k(B)) — so after ANY
    * sequence of folds the state IS the top-k of every row ever seen.
    * Three consequences, each stronger than the additive-state siblings:
    * replays fold to no-ops with NO batchId ledger (identical rows dedup
    * away — q129's property, where q110/q131's additive counts need a
    * ledger), arrival ORDER is invisible (set-union commutes), and batch
    * BOUNDARIES are invisible (union associates). An evicted row can
    * never be needed again: eviction means k better keys exist, and keys
    * never change.
    *
    * Scale: per-batch cost = one narrow hash+ln map over the batch plus
    * a driver-side merge of 2k rows; state size is k rows FOREVER —
    * with the 64-row DSIR table, the only states in the library whose
    * size is independent of corpus growth. The merge's dropDuplicates
    * shuffles ≤ 2k rows (nothing corpus-sized crosses an exchange). */
  def sampleIngest(spark: SparkSession, path: String, batch: DataFrame,
                   idCol: String, weightCol: String, carryCols: Seq[String],
                   k: Int, seed: String): Unit = {
    require(k >= 1, s"k=$k")
    val keep = Seq(idCol) ++ carryCols ++ Seq(weightCol, "bucket", "qk")
    val keyed = batch.filter(col(weightCol) > 0)
      .withColumn("bucket", hashBucket(col(idCol), seed))
      .withColumn("qk", esQuantKey(col(idCol), col(weightCol), seed))
      .select(keep.map(col): _*)
      // intra-batch duplicates must not consume top-k slots: a batch
      // carrying >= k-1 better-keyed rows PLUS one duplicate would
      // silently evict a true global top-k member before the id-level
      // dedup below ever sees it (the discipline entityIngest and
      // neardupIngestCore already apply via dropDuplicates("id"))
      .dropDuplicates(idCol)
    val top = keyed.orderBy(col("qk").asc, col(idCol).asc).limit(k)
    // commit-log snapshot publish (one file create, loud under a
    // concurrent folder — the fold re-derives on a CAS loss)
    graft.sinks.SnapshotState.fold(spark, path) {
      case Some(cur) => cur.unionByName(top)
        .dropDuplicates(idCol)
        .orderBy(col("qk").asc, col(idCol).asc).limit(k)
      case None => top
    }
  }

  /** The committed sample state ([[sampleIngest]]'s snapshot). */
  def readSampleState(spark: SparkSession, path: String): DataFrame =
    graft.sinks.SnapshotState.read(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed sample state at $path"))

  /** q132: [[sampleIngest]] under the day-split + re-delivery + REVERSED
    * ORDER harness (days fold day2-first — legal here and only here
    * among the ingests, because the top-k state is order-free); the
    * final snapshot must equal the whole-corpus batch draw — the oracle
    * IS q128's, verbatim. */
  def q132SampleIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q132_")
    try {
      val path = s"$base/sample_state"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      Seq(
        docs.filter(col("doc_id") > cut), // day 2 delivered FIRST
        docs.filter(col("doc_id") <= cut)
          .unionByName(docs.filter(col("doc_id") % 5 === 0))) // re-delivery
        .foreach(day => sampleIngest(spark, path, day,
          "doc_id", "n_chars", Seq("lang"), WsK, WsSeed))
      readSampleState(spark, path)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("qk").asc, col("doc_id"))))
        .select(col("rank"), col("doc_id"), col("lang"), col("n_chars"),
          col("bucket"))
        .orderBy(col("rank"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The whole point of the incremental path: its oracle IS q128's. */
  def q132SampleIngestSql: String = q128WeightedSampleSql

  /** q142: the q132 fold behind a REAL file stream
    * ([[graft.streaming.StreamingSample]] — foreachBatch per landed day
    * file, Trigger.AvailableNow), with day 2's file RE-DELIVERING a
    * slice of day 1 and the files landed in REVERSED day order — both
    * legal because the top-k state is replay-absorbing and order-free
    * (the strongest streamed-ingest contract, shared with q129).
    * Oracle IS q128's, verbatim. */
  def q142StreamSample(spark: SparkSession, dir: String): DataFrame = 
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_q142_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/sample_state"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val days = Seq(
        docs.filter(col("doc_id") > cut), // later half lands FIRST
        docs.filter(col("doc_id") <= cut)
          .unionByName(docs.filter(col("doc_id") % 5 === 0))) // re-delivery
      fs.mkdirs(new Path(srcDir))
      days.zipWithIndex.foreach { case (d, i) =>
        d.coalesce(1).write.parquet(s"$base/stage_$i")
        val part = fs.globStatus(new Path(s"$base/stage_$i/part-*.parquet"))(0).getPath
        fs.rename(part, new Path(s"$srcDir/day_$i.parquet"))
      }
      val q = graft.streaming.StreamingSample.start(spark, srcDir, statePath,
        s"$base/ckpt", WsK, WsSeed, trigger = Some(Trigger.AvailableNow()))
      try q.awaitTermination()
      finally { if (q.isActive) q.stop() }
      readSampleState(spark, statePath)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("qk").asc, col("doc_id"))))
        .select(col("rank"), col("doc_id"), col("lang"), col("n_chars"),
          col("bucket"))
        .orderBy(col("rank"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  /** The streamed fold's oracle IS q128's. */
  def q142StreamSampleSql: String = q128WeightedSampleSql

  /** 2-D Pareto-frontier (skyline) selection: keep the rows no other row
    * dominates — s dominates r iff s is ≥ r in BOTH dims and > in at
    * least one ("the docs where nothing is simultaneously higher-quality
    * AND longer"). Multi-criteria curation's primitive: unlike a scalar
    * score ([[weightedSample]]'s weight, q61's quality cut) the frontier
    * needs no arbitrary trade-off constant between the dims.
    *
    * Plan — the naive form is the O(n²) dominance self-join (kept as the
    * ORACLE so the rewrite is certified semantics-free, the q47/q124
    * pattern); this plan is linear: r survives iff y = max(y | x-group)
    * AND y > max(y | any strictly-greater x). Stage 1 collapses rows to
    * per-x group maxima (ONE groupBy with map-side partials — the only
    * corpus-sized exchange, keyed on x); stage 2 runs one cumulative-max
    * window over the DISTINCT x values — bounded rows, not corpus rows
    * (quality rounds to 4 dp, so ≤ 10⁴+1 groups ever exist — same class
    * of bound as q114's type-vocabulary window); stage 3 broadcasts that
    * frontier table back over the corpus as a stateless filter. Ties on
    * both dims are mutually non-dominating and all kept. `partCols`
    * computes an independent frontier per group (per-language curation),
    * which also spreads the distinct-x window across group partitions. */
  def skyline2D(rows: DataFrame, xCol: String, yCol: String,
                partCols: Seq[String] = Seq.empty): DataFrame = {
    val keys = (partCols :+ xCol).map(col)
    val g = rows.groupBy(keys: _*).agg(max(col(yCol)).as("grp_max_y"))
    val wPrev = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val g2 = g.withColumn("better_y", max(col("grp_max_y")).over(wPrev))
    rows.join(broadcast(g2), partCols :+ xCol)
      .filter(col(yCol) === col("grp_max_y") &&
        (col("better_y").isNull || col("better_y") < col(yCol)))
      .drop("grp_max_y", "better_y")
  }

  /** q134: the PER-LANGUAGE documents Pareto frontier over
    * (quality, n_tokens) — q16's exact composite quality (computed from
    * the RAW ratios, its rounding discipline) as x, token count as y;
    * row-level exact against the quadratic NOT EXISTS dominance
    * oracle. */
  def q134Skyline(spark: SparkSession, dir: String): DataFrame = {
    skyline2D(scoredDocs(spark, dir), "quality", "n_tokens",
        partCols = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"))
      .orderBy(col("lang"), col("quality").desc, col("n_tokens").desc,
        col("doc_id"))
  }

  /** INCREMENTAL skyline — the Pareto frontier as persistent state,
    * folded per ingest batch. Like top-k ([[sampleIngest]]) and unlike
    * the additive counters, the frontier is a MONOTONE MERGEABLE
    * summary: skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)) —
    * dominance is transitive, so any row dominated in A ∪ B is
    * dominated by some row that itself survives. Hence the fold is
    * ledger-free (replayed rows are identical and dedup by id),
    * order-free (set union commutes), and split-invisible (union
    * associates); a row evicted can never return — dominators only
    * accumulate. Per-batch cost: the batch's OWN skyline (its group
    * maxima + distinct-x window) merged with the ≤ frontier-size state
    * rows; nothing rescans history. */
  def skylineIngest(spark: SparkSession, path: String, batch: DataFrame,
                    idCol: String, xCol: String, yCol: String,
                    partCols: Seq[String]): Unit = {
    val keep = (Seq(idCol) ++ partCols ++ Seq(xCol, yCol)).map(col)
    val batchSky = skyline2D(batch.select(keep: _*), xCol, yCol, partCols)
    // commit-log snapshot publish (one file create, loud under a
    // concurrent folder — the fold re-derives on a CAS loss)
    graft.sinks.SnapshotState.fold(spark, path) {
      case Some(cur) => skyline2D(
        cur.unionByName(batchSky).dropDuplicates(idCol),
        xCol, yCol, partCols)
      case None => batchSky
    }
  }

  /** The committed frontier state ([[skylineIngest]]'s snapshot). */
  def readSkylineState(spark: SparkSession, path: String): DataFrame =
    graft.sinks.SnapshotState.read(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed skyline state at $path"))

  /** q141: [[skylineIngest]] under the reversed-order day split +
    * re-delivery harness (legal for monotone mergeable state — the
    * q132 contract); the final frontier must equal the whole-corpus
    * batch answer — the oracle IS q134's, verbatim. */
  def q141SkylineIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q141_")
    try {
      val path = s"$base/sky_state"
      val m = scoredDocs(spark, dir)
      val cut = m.agg(max(col("doc_id"))).head().getLong(0) / 2
      Seq(
        m.filter(col("doc_id") > cut), // day 2 delivered FIRST
        m.filter(col("doc_id") <= cut)
          .unionByName(m.filter(col("doc_id") % 5 === 0))) // re-delivery
        .foreach(day => skylineIngest(spark, path, day,
          "doc_id", "quality", "n_tokens", Seq("lang")))
      readSkylineState(spark, path)
        .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"))
        .orderBy(col("lang"), col("quality").desc, col("n_tokens").desc,
          col("doc_id"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The whole point of the incremental path: its oracle IS q134's. */
  def q141SkylineIngestSql: String = q134SkylineSql

  /** The scored (doc_id, lang, quality, n_tokens) frame q134/q141/q151
    * all select from — one definition of the dims across the family. */
  private[operators] def scoredDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      alphaRatio(col("text")).as("alpha_raw"),
      punctRatio(col("text")).as("punct_raw"),
      stopwordRatio(col("text")).as("stop_raw"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(
          lit(0.25) * col("alpha_raw") +
          lit(0.25) * col("stop_raw") +
          lit(0.25) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
          lit(0.25) * (lit(1.0) - col("punct_raw")), 4).as("quality"))
  }

  /** q151: the q141 fold behind a REAL file stream
    * ([[graft.streaming.StreamingSkyline]] — foreachBatch per landed
    * day file, Trigger.AvailableNow), files landed in REVERSED day
    * order with a re-delivered slice — legal under the monotone-
    * mergeable contract (the q142 harness applied to the frontier).
    * Oracle IS q134's, verbatim. */
  def q151StreamSkyline(spark: SparkSession, dir: String): DataFrame = 
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_q151_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/sky_state"
      val m = scoredDocs(spark, dir)
        .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"))
      val cut = m.agg(max(col("doc_id"))).head().getLong(0) / 2
      val days = Seq(
        m.filter(col("doc_id") > cut), // later half lands FIRST
        m.filter(col("doc_id") <= cut)
          .unionByName(m.filter(col("doc_id") % 5 === 0))) // re-delivery
      fs.mkdirs(new Path(srcDir))
      days.zipWithIndex.foreach { case (d, i) =>
        d.coalesce(1).write.parquet(s"$base/stage_$i")
        val part = fs.globStatus(new Path(s"$base/stage_$i/part-*.parquet"))(0).getPath
        fs.rename(part, new Path(s"$srcDir/day_$i.parquet"))
      }
      val q = graft.streaming.StreamingSkyline.start(spark, srcDir, statePath,
        s"$base/ckpt", trigger = Some(Trigger.AvailableNow()))
      try q.awaitTermination()
      finally { if (q.isActive) q.stop() }
      readSkylineState(spark, statePath)
        .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"))
        .orderBy(col("lang"), col("quality").desc, col("n_tokens").desc,
          col("doc_id"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  /** The streamed fold's oracle IS q134's. */
  def q151StreamSkylineSql: String = q134SkylineSql

  val q134SkylineSql: String = {
    val stops = graft.functions.TextFunctions.stopwords
      .map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, lang, text, ${TextQueries.tokSqlExpr} AS toks FROM documents),
       |r AS (SELECT doc_id, lang,
       |  len(toks)::bigint AS n_tokens,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw
       |FROM t),
       |m AS (SELECT doc_id, lang, n_tokens,
       |  round(0.25 * alpha_raw + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) AS quality
       |FROM r)
       |SELECT doc_id, lang, quality, n_tokens FROM m a
       |WHERE NOT EXISTS (SELECT 1 FROM m b
       |  WHERE b.lang = a.lang
       |    AND ((b.quality > a.quality AND b.n_tokens >= a.n_tokens)
       |      OR (b.quality >= a.quality AND b.n_tokens > a.n_tokens)))
       |ORDER BY lang, quality DESC, n_tokens DESC, doc_id""".stripMargin
  }

  // q143 parameters: phase count + within-phase shuffle seed.
  private val CurPhases = 4
  private val CurSeed = "curric"

  /** CURRICULUM CONSTRUCTION — cut the corpus into `phases` equal
    * difficulty bands by a quality score (cleanest data first, the
    * standard curriculum-learning schedule) and deterministically
    * SHUFFLE within each band (ordered-by-score batches inside a phase
    * would be their own bias — [[Sharding.shuffleShards]]'s argument).
    *
    * The scale trick: phase needs each row's GLOBAL rank, but a global
    * sort/window is the one shape this library refuses. Instead the
    * rank decomposes exactly: group the corpus by score value (the
    * distinct-score table is bounded — quality rounds to 4 dp, q134's
    * argument), take a cumulative count over THAT table (tiny window),
    * broadcast it, and add a per-score-group row_number — global_rank
    * = cum_before(score) + rank_within_group. One bounded groupBy, one
    * broadcast probe, two hash-partitioned windows (score group /
    * phase) — no global exchange-to-one anywhere. All integer math;
    * row-level exact against the oracle's single global window. */
  def curriculumPhases(docs: DataFrame, idCol: String, scoreCol: String,
                       phases: Int, seed: String): DataFrame = {
    require(phases >= 1, s"phases=$phases")
    val counts = docs.groupBy(col(scoreCol)).agg(count(lit(1)).as("n"))
    val wq = Window.orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = counts
      .withColumn("cum_before", coalesce(sum(col("n")).over(wq), lit(0L)))
      .select(col(scoreCol), col("cum_before"))
    val tot = counts.agg(sum(col("n")).as("n_total"))
    docs.join(broadcast(cum), Seq(scoreCol))
      .crossJoin(broadcast(tot))
      .withColumn("global_rank",
        col("cum_before") + row_number().over(
          Window.partitionBy(col(scoreCol)).orderBy(col(idCol))).cast("long"))
      .withColumn("phase",
        expr(s"(global_rank - 1) * $phases div n_total"))
      .withColumn("bucket", hashBucket(col(idCol), seed))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("phase"))
          .orderBy(col("bucket"), col(idCol))).cast("long"))
      .drop("cum_before", "n_total")
  }

  /** q143: the 4-phase curriculum over documents by q16's composite
    * quality, highest first, hash-shuffled within phase — every
    * (doc_id, global_rank, phase, pos) row-level exact against the
    * oracle's one global window. */
  def q143Curriculum(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val m = Tables.documents(spark, dir).select(
      col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      alphaRatio(col("text")).as("alpha_raw"),
      punctRatio(col("text")).as("punct_raw"),
      stopwordRatio(col("text")).as("stop_raw"))
      .select(col("doc_id"),
        round(
          lit(0.25) * col("alpha_raw") +
          lit(0.25) * col("stop_raw") +
          lit(0.25) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
          lit(0.25) * (lit(1.0) - col("punct_raw")), 4).as("quality"))
    curriculumPhases(m, "doc_id", "quality", CurPhases, CurSeed)
      .select(col("doc_id"), col("quality"), col("global_rank"),
        col("phase"), col("pos"))
      .orderBy(col("phase"), col("pos"))
  }

  val q143CurriculumSql: String = {
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
       |  round(0.25 * alpha_raw + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) AS quality
       |FROM r),
       |g AS (SELECT doc_id, quality,
       |  row_number() OVER (ORDER BY quality DESC, doc_id)::BIGINT AS global_rank,
       |  count(*) OVER ()::BIGINT AS n_total,
       |  ('0x' || substring(md5('$CurSeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |FROM m)
       |SELECT doc_id, quality, global_rank,
       |  (global_rank - 1) * $CurPhases // n_total AS phase,
       |  row_number() OVER (PARTITION BY (global_rank - 1) * $CurPhases // n_total
       |                     ORDER BY bucket, doc_id)::BIGINT AS pos
       |FROM g ORDER BY phase, pos""".stripMargin
  }

  // q147 parameters: total draw budget, hash seed.
  private[operators] val NeyBudget = 60
  private[operators] val NeySeed = "neyman"

  /** NEYMAN-OPTIMAL STRATIFIED ALLOCATION (Neyman 1934; Cochran,
    * Sampling Techniques §5.5) — split a fixed eval/annotation budget
    * across strata ∝ N_h·σ_h, the allocation that minimizes the
    * variance of the stratified mean: high-variance languages get more
    * of the budget than proportional allocation would give them
    * ("spend annotators where the metric is noisy"). The samplers
    * q66/q130 take k AS GIVEN per stratum; this operator COMPUTES the
    * k_h, then draws exactly k_h per stratum (q66's uniform hash
    * draw).
    *
    * Determinism: N_h·σ_h = sqrt(N_h·Σx² − (Σx)²) — the argument is an
    * exact INTEGER (qe4 metric, integer sums; overflow bound N_h·Σx² <
    * 2⁶³ holds to ~10⁹ rows·qe4≤10⁴, then move to decimal), sqrt is
    * one correctly-rounded IEEE op, the quota fractions are identical
    * doubles in both engines, and largest-remainder rounding is
    * integer comparisons with a lang tie-break. k_h is capped at N_h
    * (a tiny high-variance stratum cannot be over-drawn).
    *
    * Scale: one corpus scan into a \|strata\|-row map-side-partial
    * groupBy; the allocation runs on that tiny frame (window + 1-row
    * totals, broadcast); the draw is q66's per-stratum rank window. */
  /** The allocation math over prepared per-stratum integer moments
    * `(stratum, nh, s1, s2)` — shared by the direct scan (q147) and
    * the moments-snapshot derivation (q153). Returns
    * (stratum, nh, k_alloc). */
  private[operators] def neymanAllocFromMoments(g: DataFrame,
                                                budget: Int): DataFrame = {
    require(budget >= 1, s"budget=$budget")
    val w = g.withColumn("wh",
      sqrt((col("nh") * col("s2") - col("s1") * col("s1")).cast("double")))
    val tot = w.agg(sum(col("wh")).as("wt"),
      sum(col("nh")).cast("double").as("nt"))
    // all-zero-variance degenerate case (every stratum internally
    // constant): N_h·σ_h = 0 for all h makes the Neyman weights 0/0 —
    // fall back to PROPORTIONAL allocation (w_h = N_h, Cochran's
    // convention when no variance signal exists) instead of silently
    // emitting NaN quotas and null k_alloc
    val q = w.crossJoin(broadcast(tot))
      .withColumn("exact",
        when(col("wt") > 0.0, lit(budget) * col("wh") / col("wt"))
          .otherwise(lit(budget) * col("nh") / col("nt")))
      .withColumn("base", floor(col("exact")).cast("long"))
      .withColumn("frac", col("exact") - floor(col("exact")))
    val rem = q.agg((lit(budget.toLong) - sum(col("base"))).as("rem"))
    q.withColumn("fr", row_number().over(
        Window.orderBy(col("frac").desc, col("stratum"))).cast("long"))
      .crossJoin(broadcast(rem))
      .withColumn("k_alloc",
        least(col("nh"),
          col("base") + when(col("fr") <= col("rem"), 1L).otherwise(0L)))
      .select(col("stratum"), col("nh"), col("k_alloc"))
  }

  /** The exact-k_h draw against a computed allocation — q66's uniform
    * hash rank gated by the broadcast alloc table. */
  private[operators] def neymanDraw(m: DataFrame, alloc: DataFrame,
                                    seed: String): DataFrame = {
    val draw = m
      .withColumn("bucket", hashBucket(col("id"), seed))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("stratum"))
          .orderBy(col("bucket"), col("id"))).cast("long"))
    draw.join(broadcast(alloc), Seq("stratum"))
      .filter(col("rank") <= col("k_alloc"))
      .select(col("stratum"), col("nh"), col("k_alloc"), col("rank"),
        col("id"))
  }

  def neymanAllocate(docs: DataFrame, idCol: String, strataCol: String,
                     metricE4: Column, budget: Int, seed: String): DataFrame = {
    val m = docs.select(col(idCol).as("id"),
      col(strataCol).as("stratum"), metricE4.as("x"))
    val g = m.groupBy(col("stratum"))
      .agg(count(lit(1)).as("nh"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
    neymanDraw(m, neymanAllocFromMoments(g, budget), seed)
  }

  /** q147: the [[NeyBudget]]-doc annotation draw over documents,
    * strata = language, metric = q16's quality in e4 units — every
    * (lang, allocation, rank, doc_id) row-level exact. */
  def q147Neyman(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val m = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      alphaRatio(col("text")).as("alpha_raw"),
      punctRatio(col("text")).as("punct_raw"),
      stopwordRatio(col("text")).as("stop_raw"))
      .select(col("doc_id"), col("lang"),
        round(round(
          lit(0.25) * col("alpha_raw") +
          lit(0.25) * col("stop_raw") +
          lit(0.25) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
          lit(0.25) * (lit(1.0) - col("punct_raw")), 4) * 10000).cast("long")
          .as("qe4"))
    neymanAllocate(m, "doc_id", "lang", col("qe4"), NeyBudget, NeySeed)
      .select(col("stratum").as("lang"), col("nh"), col("k_alloc"),
        col("rank"), col("id").as("doc_id"))
      .orderBy(col("lang"), col("rank"))
  }

  val q147NeymanSql: String = {
    val stops = graft.functions.TextFunctions.stopwords
      .map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, lang, text, ${TextQueries.tokSqlExpr} AS toks FROM documents),
       |r0 AS (SELECT doc_id, lang,
       |  len(toks)::bigint AS n_tokens,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw
       |FROM t),
       |m AS (SELECT doc_id, lang,
       |  round(round(0.25 * alpha_raw + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) * 10000)::BIGINT AS qe4,
       |  ('0x' || substring(md5('$NeySeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |FROM r0),
       |g AS (SELECT lang, count(*)::BIGINT AS nh, sum(qe4)::BIGINT AS s1,
       |        sum(qe4 * qe4)::BIGINT AS s2 FROM m GROUP BY lang),
       |w AS (SELECT lang, nh, sqrt((nh * s2 - s1 * s1)::DOUBLE) AS wh FROM g),
       |tot AS (SELECT sum(wh) AS wt FROM w),
       |q AS (SELECT lang, nh, $NeyBudget * wh / wt AS exact,
       |        floor($NeyBudget * wh / wt)::BIGINT AS base,
       |        $NeyBudget * wh / wt - floor($NeyBudget * wh / wt) AS frac
       |      FROM w, tot),
       |rem AS (SELECT $NeyBudget - sum(base) AS rem FROM q),
       |alloc AS (SELECT lang, nh,
       |    least(nh, base + CASE WHEN row_number() OVER
       |        (ORDER BY frac DESC, lang) <= rem THEN 1 ELSE 0 END)::BIGINT AS k_alloc
       |  FROM q, rem),
       |draw AS (SELECT lang, doc_id, row_number() OVER
       |    (PARTITION BY lang ORDER BY bucket, doc_id)::BIGINT AS rank FROM m)
       |SELECT d.lang, a.nh, a.k_alloc, d.rank, d.doc_id
       |FROM draw d JOIN alloc a USING (lang)
       |WHERE d.rank <= a.k_alloc ORDER BY lang, rank""".stripMargin
  }

  // q148 parameters: folds, embargo gap (seconds).
  private val WfFolds = 3
  private val WfEmbargoS = 86400L

  /** WALK-FORWARD TEMPORAL SPLITS WITH EMBARGO — the time-series
    * counterpart of q63's hash splits: models trained on behavioral
    * data must validate on the FUTURE, and an embargo gap between each
    * train window's end and its test window's start keeps
    * label/feature leakage across the boundary out (the purged
    * walk-forward scheme of de Prado, Advances in Financial ML §7 —
    * the same discipline a next-event model over the events fixture
    * needs). Fold i trains on everything before cut_i and tests on
    * [cut_i + embargo, cut_{i+1}); cuts divide the observed time range
    * into equal micro-second integer segments.
    *
    * Determinism: cuts are integer epoch-microsecond arithmetic
    * ((range·i) div (folds+1)); every emitted column is an integer
    * count, an exact timestamp, or the integer embargo verdict.
    *
    * Scale: ONE scan fanned out over a broadcast `folds`-row spec
    * (each event meets every fold's conditions as conditional
    * aggregates), map-side partials into a `folds`-row result. */
  def walkForwardSplits(events: DataFrame, tsCol: String, folds: Int,
                        embargoS: Long): DataFrame = {
    require(folds >= 1, s"folds=$folds")
    val tt = events.agg(min(unix_micros(col(tsCol))).as("t0"),
      max(unix_micros(col(tsCol))).as("t1"))
    val spec = tt.select(explode(sequence(lit(1), lit(folds))).as("fold"),
        col("t0"), col("t1"))
      .select(col("fold"),
        (col("t0") + expr(s"(t1 - t0) * fold div ${folds + 1}")).as("cut"),
        when(col("fold") < folds,
          col("t0") + expr(s"(t1 - t0) * (fold + 1) div ${folds + 1}"))
          .otherwise(col("t1") + 1L).as("t_end"))
      .withColumn("test_from", col("cut") + embargoS * 1000000L)
    events.select(unix_micros(col(tsCol)).as("us"))
      .crossJoin(broadcast(spec))
      .groupBy(col("fold"))
      .agg(
        sum(when(col("us") < col("cut"), 1L).otherwise(0L)).as("train_n"),
        sum(when(col("us") >= col("test_from") && col("us") < col("t_end"),
          1L).otherwise(0L)).as("test_n"),
        max(when(col("us") < col("cut"), col("us"))).as("train_max_us"),
        min(when(col("us") >= col("test_from") && col("us") < col("t_end"),
          col("us"))).as("test_min_us"))
      .withColumn("embargo_ok",
        (col("test_min_us") - col("train_max_us") >=
          embargoS * 1000000L).cast("long"))
      .orderBy(col("fold"))
  }

  /** q148: 3 walk-forward folds over the events fixture with a one-day
    * embargo — fold sizes, boundary timestamps, and the embargo
    * verdict, row-level exact. */
  def q148WalkForward(spark: SparkSession, dir: String): DataFrame =
    walkForwardSplits(Tables.events(spark, dir), "ts", WfFolds, WfEmbargoS)

  val q148WalkForwardSql: String =
    s"""WITH tt AS (SELECT min(epoch_us(ts))::BIGINT AS t0,
       |                   max(epoch_us(ts))::BIGINT AS t1 FROM events),
       |spec AS (SELECT f.fold::BIGINT AS fold,
       |    t0 + (t1 - t0) * f.fold // ${WfFolds + 1} AS cut,
       |    CASE WHEN f.fold < $WfFolds
       |         THEN t0 + (t1 - t0) * (f.fold + 1) // ${WfFolds + 1}
       |         ELSE t1 + 1 END AS t_end,
       |    t0 + (t1 - t0) * f.fold // ${WfFolds + 1}
       |      + ${WfEmbargoS * 1000000L} AS test_from
       |  FROM tt, range(1, ${WfFolds + 1}) f(fold)),
       |e AS (SELECT epoch_us(ts)::BIGINT AS us FROM events)
       |SELECT fold,
       |  sum(CASE WHEN us < cut THEN 1 ELSE 0 END)::BIGINT AS train_n,
       |  sum(CASE WHEN us >= test_from AND us < t_end THEN 1 ELSE 0 END)::BIGINT AS test_n,
       |  max(CASE WHEN us < cut THEN us END)::BIGINT AS train_max_us,
       |  min(CASE WHEN us >= test_from AND us < t_end THEN us END)::BIGINT AS test_min_us,
       |  (min(CASE WHEN us >= test_from AND us < t_end THEN us END)
       |     - max(CASE WHEN us < cut THEN us END)
       |     >= ${WfEmbargoS * 1000000L})::BIGINT AS embargo_ok
       |FROM e, spec GROUP BY fold ORDER BY fold""".stripMargin

  val q45SeqPackSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substring(md5('$PackSeed:' || doc_id), 1, 8))::BIGINT % $PackShards AS shard,
       |    len(${TextQueries.tokSqlExpr})::BIGINT AS tokens
       |  FROM documents),
       |offs AS (
       |  SELECT *, sum(tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS start_off
       |  FROM toks)
       |SELECT lang, shard, (start_off // $PackBudget)::BIGINT AS pack_id,
       |  count(*) AS n_docs, sum(tokens)::BIGINT AS pack_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM offs GROUP BY 1, 2, 3 ORDER BY lang, shard, pack_id""".stripMargin
}
