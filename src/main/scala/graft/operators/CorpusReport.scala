package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** One-pass corpus quality dashboard (SURVEY §2B text analysis +
  * sketches, composed): every per-document metric the curation stages
  * consume — token counts, the q16 composite quality score, the q75
  * duplicate-word fraction, short-document share — aggregated per
  * (lang, source) stratum, per lang, per source, and corpus-wide in a
  * SINGLE scan via GROUPING SETS.
  *
  * Scale design: the naive dashboard runs one query per panel — N full
  * scans of a 100 TB corpus. This one reads the corpus ONCE: the
  * per-row metric projection is a narrow map fused into the scan, the
  * Expand operator replicates only the tiny (metrics, lang, source)
  * tuple ×4 grouping sets, and hash partial aggregation collapses each
  * set map-side, so the shuffle carries O(#langs × #sources) rows no
  * matter the corpus size. Double averages are decimal-summed
  * (order-independent exact sums, one final double division) — the
  * q39/q61 determinism discipline. The exact percentiles ride on the
  * LOW-cardinality token-count measure (the aggregation buffer is a
  * value→count map bounded by distinct token counts, not rows); a
  * high-cardinality measure would swap in `percentile_approx`, q61's
  * sketch. Reference analog: the row-count/progress accounting its ETL
  * prints per batch (main.py:61-74), widened to a corpus-quality
  * surface.
  */
object CorpusReport {

  /** Per (strata grouping sets) metric rollup of a documents frame.
    * Emits one row per grouping-set group: doc/token totals, decimal-
    * exact metric averages, exact token-count percentiles, and the
    * share of short documents (< `shortTokens` tokens). */
  def corpusReport(docs: DataFrame, textCol: String,
                   strata: Seq[String], shortTokens: Int = 50): DataFrame = {
    val text = col(textCol)
    // Stage tokens + raw ratios as materialized attributes (the
    // q16/q75 discipline: HOFs are CodegenFallback with no
    // subexpression elimination, so an embedded tokenizer re-runs per
    // reference; against staged columns each metric is one pass).
    val staged = docs.select(
      strata.map(col) ++ Seq(
        tokens(text).as("toks"),
        alphaRatio(text).as("alpha_raw"),
        punctRatio(text).as("punct_raw")): _*)
    val perRow = staged.select(
      strata.map(col) ++ Seq(
        size(col("toks")).cast("long").as("n_tokens"),
        when(size(col("toks")) === 0, lit(0.0))
          .otherwise(size(filter(col("toks"), t => t.isInCollection(stopwords)))
            .cast("double") / size(col("toks"))).as("stop_raw"),
        when(size(col("toks")) > 0,
          (size(col("toks")) - size(array_distinct(col("toks"))))
            .cast("double") / size(col("toks"))).as("dup_word_raw"),
        col("alpha_raw"), col("punct_raw")): _*)
      .withColumn("quality", round(
        lit(0.25) * col("alpha_raw") +
        lit(0.25) * col("stop_raw") +
        lit(0.25) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
        lit(0.25) * (lit(1.0) - col("punct_raw")), 4))
    // Fixed-point averages: sum each 4-dp metric as an exact integer
    // (order-independent), then round-half-up INTEGER division —
    // `(2s+n) div 2n` — so the 4-dp average is bit-identical across
    // engines and partitionings. A rounded double quotient would sit on
    // round-half boundaries (observed at sf0.01: 0.63355) where
    // Spark's half-up and DuckDB's double rounding disagree.
    def fp(c: Column): Column = sum(round(c * 10000).cast("long"))
    val sets = Seq(strata.map(col), Seq(col(strata.head)),
      Seq(col(strata(1))), Seq.empty[Column])
    perRow
      .groupingSets(sets, strata.map(col): _*)
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        round(percentile(col("n_tokens"), lit(0.5)), 4).as("p50_tokens"),
        round(percentile(col("n_tokens"), lit(0.9)), 4).as("p90_tokens"),
        fp(round(col("quality"), 4)).as("quality_fp"),
        fp(round(col("dup_word_raw"), 4)).as("dup_fp"),
        count(col("dup_word_raw")).as("n_dup"),
        round(sum(when(col("n_tokens") < shortTokens, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4).as("short_frac"))
      .withColumn("avg_quality",
        (expr("(2 * quality_fp + n_docs) div (2 * n_docs)").cast("double") / 10000.0))
      .withColumn("avg_dup_word",
        (expr("(2 * dup_fp + n_dup) div (2 * n_dup)").cast("double") / 10000.0))
      .drop("quality_fp", "dup_fp", "n_dup")
  }

  /** Per-batch MERGEABLE report state: the subset of the q77 metrics
    * that is algebraic (sums, counts, min/max, fixed-point quality
    * sums) — the nightly-rollup form of the dashboard. Percentiles are
    * deliberately absent: exact percentiles are not mergeable state;
    * the incremental path for them is a sketch (q61's
    * percentile_approx), not this ledger. */
  private def batchState(docs: DataFrame, textCol: String,
                         strata: Seq[String]): DataFrame = {
    val text = col(textCol)
    val staged = docs.select(
      strata.map(col) ++ Seq(
        tokens(text).as("toks"),
        alphaRatio(text).as("alpha_raw"),
        punctRatio(text).as("punct_raw")): _*)
    val perRow = staged.select(
      strata.map(col) ++ Seq(
        size(col("toks")).cast("long").as("n_tokens"),
        when(size(col("toks")) === 0, lit(0.0))
          .otherwise(size(filter(col("toks"), t => t.isInCollection(stopwords)))
            .cast("double") / size(col("toks"))).as("stop_raw"),
        col("alpha_raw"), col("punct_raw")): _*)
      .withColumn("quality", round(
        lit(0.25) * col("alpha_raw") +
        lit(0.25) * col("stop_raw") +
        lit(0.25) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
        lit(0.25) * (lit(1.0) - col("punct_raw")), 4))
    perRow.groupBy(strata.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(round(col("quality") * 10000).cast("long")).as("quality_fp"),
        sum(when(col("n_tokens") < 50, 1L).otherwise(0L)).as("n_short"))
  }

  /** INCREMENTAL report ingest — aggregate state under at-least-once
    * delivery. The snapshot holds one mergeable state row per stratum;
    * each batch folds in additively (sums add, mins min, maxes max).
    * Additive state is NOT naturally idempotent — a replayed batch
    * would double-count, the exact failure q65's anti-join is immune
    * to — so idempotence is restored by a BATCH LEDGER (the q46
    * replay-safe batchId discipline): an already-ingested `batchId`
    * is a no-op. At 100 TB the per-batch cost is the batch's own
    * aggregation plus a merge over |strata| rows — the snapshot never
    * re-scans the corpus, which is the entire point of keeping report
    * state. State and ledger publish in ONE
    * [[graft.sinks.LedgeredState]] commit, so a crash can never leave
    * the fold applied but unrecorded (the replay-double-count window). */
  def reportIngest(spark: SparkSession, path: String, batch: DataFrame,
                   batchId: String, textCol: String,
                   strata: Seq[String]): Boolean = {
    import graft.sinks.LedgeredState
    if (LedgeredState.absorbed(spark, path, batchId)) return false
    val bs = batchState(batch, textCol, strata)
    val merged = LedgeredState.readPart(spark, path, "report") match {
      case Some(st) => st.unionByName(bs)
        .groupBy(strata.map(col): _*)
        .agg(
          sum(col("n_docs")).as("n_docs"),
          sum(col("total_tokens")).as("total_tokens"),
          min(col("min_tokens")).as("min_tokens"),
          max(col("max_tokens")).as("max_tokens"),
          sum(col("quality_fp")).as("quality_fp"),
          sum(col("n_short")).as("n_short"))
      case None => bs
    }
    LedgeredState.commit(spark, path, batchId, Seq("report" -> merged))
    true
  }

  /** SOURCE-POLICY filtering — curation at the PROVENANCE level (the
    * C4/RefinedWeb domain-policy stage): score every source by its
    * documents' mean quality, then drop entire sources below the bar.
    * Document-level filters keep a spam domain's few good pages;
    * source-level policy removes the domain — the two compose (the
    * CurateJob order: policy first, then per-doc filters).
    *
    * Scale: stage 1 is one partial-aggregated groupBy to |sources|
    * rows; the verdict set is bounded (domains, not documents), so
    * stage 2 is a broadcast join — the corpus never shuffles to learn
    * its fate. The mean compares in FIXED-POINT integer space (the q77
    * discipline), so the keep/drop decision can never sit on a double
    * rounding boundary. */
  def sourcePolicyFilter(docs: DataFrame, textCol: String, sourceCol: String,
                         minAvgQuality: Double): DataFrame = {
    val cutInt = math.round(minAvgQuality * 10000).toLong
    val verdicts = batchState(docs, textCol, Seq(sourceCol))
      .select(col(sourceCol),
        expr("(2 * quality_fp + n_docs) div (2 * n_docs)").as("q_int"))
      .withColumn("src_quality", col("q_int").cast("double") / 10000.0)
      .withColumn("kept", col("q_int") >= cutInt)
      .drop("q_int")
    docs.join(broadcast(verdicts), Seq(sourceCol))
  }

  private val SrcQualityMin = 0.60

  /** q93: source policy over `documents` — every doc with its source's
    * 4-dp mean quality and keep verdict, row-level exact (both the
    * per-source aggregate and the fan-back join are value-checked). */
  def q93SourcePolicy(spark: SparkSession, dir: String): DataFrame =
    sourcePolicyFilter(Tables.documents(spark, dir), "text", "source",
        SrcQualityMin)
      .select(col("doc_id"), col("source"), col("src_quality"), col("kept"))
      .orderBy(col("doc_id"))

  val q93SourcePolicySql: String = {
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    val cutInt = math.round(SrcQualityMin * 10000)
    s"""WITH t AS (SELECT doc_id, source, text, ${TextQueries.tokSqlExpr} AS toks FROM documents),
       |r AS (SELECT doc_id, source,
       |  len(toks)::bigint AS n_tokens,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw
       |FROM t),
       |q AS (SELECT doc_id, source,
       |  round(0.25 * alpha_raw + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) AS quality FROM r),
       |v AS (SELECT source,
       |  (2 * sum(CAST(round(quality * 10000) AS BIGINT)) + count(*)) // (2 * count(*)) AS q_int
       |FROM q GROUP BY source)
       |SELECT q.doc_id, q.source, v.q_int::double / 10000.0 AS src_quality,
       |  v.q_int >= $cutInt AS kept
       |FROM q JOIN v USING (source)
       |ORDER BY q.doc_id""".stripMargin
  }

  /** q77: the dashboard over `documents`, strata (lang, source). */
  def q77CorpusReport(spark: SparkSession, dir: String): DataFrame =
    corpusReport(Tables.documents(spark, dir), "text", Seq("lang", "source"))
      .orderBy(col("gid"), col("lang").asc_nulls_first,
        col("source").asc_nulls_first)

  /** q85: the incremental report under the q65 day-split harness PLUS a
    * whole-batch replay (day 2 ingested twice under the same batchId —
    * the ledger must no-op it; without the ledger the additive state
    * would double-count, which is exactly what the gate would catch).
    * Final state row-level equal to one batch aggregation of the whole
    * corpus. */
  def q85ReportIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q85_")
    try {
      val path = s"$base/report_state"
      val docs = Tables.documents(spark, dir)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val day1 = docs.filter(col("doc_id") <= cut)
      val day2 = docs.filter(col("doc_id") > cut)
      require(reportIngest(spark, path, day1, "day1", "text", Seq("lang", "source")))
      require(reportIngest(spark, path, day2, "day2", "text", Seq("lang", "source")))
      // whole-batch replay: at-least-once upstream delivers day2 again
      require(!reportIngest(spark, path, day2, "day2", "text", Seq("lang", "source")),
        "replayed batch must be a ledger no-op")
      graft.sinks.LedgeredState.readPart(spark, path, "report").get
        .select(col("lang"), col("source"), col("n_docs"), col("total_tokens"),
          col("min_tokens"), col("max_tokens"),
          (expr("(2 * quality_fp + n_docs) div (2 * n_docs)").cast("double") / 10000.0)
            .as("avg_quality"),
          round(col("n_short").cast("double") / col("n_docs"), 4).as("short_frac"))
        .orderBy(col("lang"), col("source"))
        .localCheckpoint(true) // materialize before the state dir is deleted
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q85ReportIngestSql: String = {
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT lang, source, text, ${TextQueries.tokSqlExpr} AS toks FROM documents),
       |r AS (SELECT lang, source,
       |  len(toks)::bigint AS n_tokens,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw
       |FROM t),
       |q AS (SELECT lang, source, n_tokens,
       |  round(0.25 * alpha_raw + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) AS quality FROM r)
       |SELECT lang, source, count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
       |  ((2 * sum(CAST(round(quality * 10000) AS BIGINT)) + count(*)) // (2 * count(*)))::double / 10000.0 AS avg_quality,
       |  round(sum(CASE WHEN n_tokens < 50 THEN 1 ELSE 0 END)::double / count(*), 4) AS short_frac
       |FROM q GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }

  /** q87: the report ledger driven by a REAL file stream
    * ([[graft.streaming.StreamingFold]], one micro-batch per landed
    * day file) — q85's state fold behind Structured Streaming's
    * delivery. The harness lands two disjoint day files (additive
    * state's input contract: no upstream row duplicates — the q85
    * scaladoc's honest caveat; sink-side batch replays ARE absorbed by
    * the batchId ledger). Final state must equal one batch aggregation
    * of the whole corpus — q85's oracle. */
  def q87StreamReport(spark: SparkSession, dir: String): DataFrame = 
    graft.streaming.StreamConf.withShuffle(spark) {
    import graft.streaming.StreamingFold
    val base = java.nio.file.Files.createTempDirectory("graft_q87_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/report_state"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      Seq(docs.filter(col("doc_id") <= cut), docs.filter(col("doc_id") > cut))
        .zipWithIndex.foreach { case (d, i) =>
          StreamingFold.land(d, srcDir, s"day_$i.parquet")
        }
      StreamingFold.drain(StreamingFold.files(spark,
          StreamingFold.docColumns("doc_id", "lang", "source", "text"), srcDir),
          s"$base/ckpt", "stream_report") { (batch, batchId) =>
        StreamingFold.applied(reportIngest(spark, statePath, batch,
          s"batch_$batchId", "text", Seq("lang", "source")))
      }
      graft.sinks.LedgeredState.readPart(spark, statePath, "report").get
        .select(col("lang"), col("source"), col("n_docs"), col("total_tokens"),
          col("min_tokens"), col("max_tokens"),
          (expr("(2 * quality_fp + n_docs) div (2 * n_docs)").cast("double") / 10000.0)
            .as("avg_quality"),
          round(col("n_short").cast("double") / col("n_docs"), 4).as("short_frac"))
        .orderBy(col("lang"), col("source"))
        .localCheckpoint(true) // materialize before the state dir is deleted
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  def q87StreamReportSql: String = q85ReportIngestSql

  /** Distribution drift between two corpus snapshots over `dims`
    * categories: per-category counts, shares, and the total-variation
    * contribution, plus one grand-total row carrying TV(v1, v2) itself.
    *
    * Determinism discipline (the q77 fixed-point lesson, taken further):
    * the drift numerator is the EXACT integer |n·M − m·N| (n, m the
    * category counts; N, M the snapshot totals), so the only doubles in
    * the output are single divisions of exact integers — bit-identical
    * on any engine, no summation-order hazard anywhere (the grand-total
    * numerator is an integer sum of integers). TV = Σ|n·M − m·N|/(2NM).
    *
    * Scale shape: two count-aggregates (map-side partial, shuffle is
    * O(#categories)), a full-outer join of two tiny category frames, a
    * single-row totals aggregate broadcast back, narrow arithmetic.
    * The corpus is scanned once per snapshot and nothing else moves.
    * Overflow bound: n·M fits BIGINT while both snapshots stay under
    * ~3·10⁹ rows; past that, swap the numerator to DECIMAL(38,0) — the
    * shape is unchanged (counts, not payloads, do the arithmetic).
    */
  /** The category-count half of [[distributionDrift]], full lineage (no
    * materialization) — the ONLY part that touches the corpus. Exposed
    * so the plan audit can pin the build shape (one count shuffle per
    * snapshot) that the checkpoint below otherwise hides. */
  private[graft] def driftCategoryCounts(v1: DataFrame, v2: DataFrame,
                                         dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "distributionDrift needs at least one dimension")
    val c1 = v1.groupBy(dims.map(col): _*).agg(count(lit(1)).as("n_old"))
    val c2 = v2.groupBy(dims.map(col): _*).agg(count(lit(1)).as("n_new"))
    c1.join(c2, dims, "full_outer")
      .select(dims.map(col) ++ Seq(
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new")): _*)
  }

  def distributionDrift(v1: DataFrame, v2: DataFrame, dims: Seq[String]): DataFrame = {
    // downstream references the counts three times (totals fold, the
    // per-category rows, the grand-total fold); the frame is
    // O(#categories) — materialize ONCE so no branch re-runs the two
    // corpus count scans
    val joined = driftCategoryCounts(v1, v2, dims).localCheckpoint(true)
    val tot = joined.agg(sum("n_old").as("tot_old"), sum("n_new").as("tot_new"))
    val num = abs(col("n_old") * col("tot_new") - col("n_new") * col("tot_old"))
    val perCat = joined.crossJoin(broadcast(tot))
      .withColumn("drift_num", num)
      .select(Seq(lit(0L).as("is_total")) ++ dims.map(col) ++ Seq(
        col("n_old"), col("n_new"), col("drift_num"),
        (col("n_old").cast("double") / col("tot_old")).as("share_old"),
        (col("n_new").cast("double") / col("tot_new")).as("share_new"),
        (col("drift_num").cast("double") /
          (lit(2L) * col("tot_old") * col("tot_new")).cast("double")).as("tv_contrib")): _*)
    val total = perCat
      .groupBy()
      .agg(sum("n_old").as("n_old"), sum("n_new").as("n_new"),
        sum("drift_num").as("drift_num"))
      .select(Seq(lit(1L).as("is_total")) ++ dims.map(d => lit(null).cast("string").as(d)) ++ Seq(
        col("n_old"), col("n_new"), col("drift_num"),
        lit(1.0).as("share_old"), lit(1.0).as("share_new"),
        (col("drift_num").cast("double") /
          (lit(2L) * col("n_old") * col("n_new")).cast("double")).as("tv_contrib")): _*)
    perCat.unionByName(total)
      .orderBy(Seq(col("is_total")) ++ dims.map(d => col(d).asc_nulls_first): _*)
  }

  /** q96: distribution drift over (lang, source) between the documents
    * fixture and the SAME derived v2 snapshot q82 diffs row-level
    * (doc_id % 17 = 3 removed, a shifted-id copy of % 19 = 7 added —
    * edits keep their category, so only adds/removes move the
    * histogram). q82 answers "which rows changed"; q96 answers "did the
    * mixture move, and where" — the monitor a nightly corpus rebuild
    * alerts on. */
  def q96DistributionDrift(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
    val v1 = base.select(col("lang"), col("source"))
    val v2 = base.filter(col("doc_id") % 17 =!= 3).select(col("lang"), col("source"))
      .union(base.filter(col("doc_id") % 19 === 7).select(col("lang"), col("source")))
    distributionDrift(v1, v2, Seq("lang", "source"))
  }

  /** The drift comparator's tail as DuckDB SQL over two CTE/table names
    * exposing `dims` — factored so every drift gate (q96's corpus-vs-
    * rebuild, q106's corpus-vs-funnel-output) shares the single
    * exact-integer formulation [[distributionDrift]] mirrors. Emits the
    * c1/c2 count CTEs, the full-outer category join, the totals fold,
    * the per-category rows, and the grand-total TV row. */
  private[graft] def driftTailSql(dims: Seq[String], v1: String, v2: String): String = {
    val dimList = dims.mkString(", ")
    val gb = dims.indices.map(i => (i + 1).toString).mkString(", ")
    val joinCond = dims.map(d => s"c1.$d = c2.$d").mkString(" AND ")
    val coal = dims.map(d => s"coalesce(c1.$d, c2.$d) AS $d").mkString(",\n  ")
    val nulls = dims.map(_ => "NULL").mkString(", ")
    val ord = dims.map(d => s"$d ASC NULLS FIRST").mkString(", ")
    s"""c1 AS (SELECT $dimList, count(*)::BIGINT AS n_old FROM $v1 GROUP BY $gb),
       |c2 AS (SELECT $dimList, count(*)::BIGINT AS n_new FROM $v2 GROUP BY $gb),
       |j AS (SELECT $coal,
       |  coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
       |  FROM c1 FULL OUTER JOIN c2 ON $joinCond),
       |t AS (SELECT sum(n_old)::BIGINT AS tot_old, sum(n_new)::BIGINT AS tot_new FROM j),
       |p AS (SELECT 0::BIGINT AS is_total, $dimList, n_old, n_new,
       |  abs(n_old * tot_new - n_new * tot_old)::BIGINT AS drift_num,
       |  n_old::DOUBLE / tot_old AS share_old,
       |  n_new::DOUBLE / tot_new AS share_new,
       |  abs(n_old * tot_new - n_new * tot_old)::DOUBLE
       |    / (2 * tot_old * tot_new)::DOUBLE AS tv_contrib
       |  FROM j, t)
       |SELECT * FROM p
       |UNION ALL
       |SELECT 1::BIGINT, $nulls, sum(n_old)::BIGINT, sum(n_new)::BIGINT,
       |  sum(drift_num)::BIGINT,
       |  1.0::DOUBLE, 1.0::DOUBLE,
       |  sum(drift_num)::DOUBLE / (2 * sum(n_old) * sum(n_new))::DOUBLE
       |FROM p
       |ORDER BY is_total, $ord""".stripMargin
  }

  val q96DistributionDriftSql: String =
    s"""WITH v2 AS (
       |  SELECT lang, source FROM documents WHERE doc_id % 17 != 3
       |  UNION ALL
       |  SELECT lang, source FROM documents WHERE doc_id % 19 = 7),
       |${driftTailSql(Seq("lang", "source"), "documents", "v2")}""".stripMargin

  val q77CorpusReportSql: String = {
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT lang, source, text, ${TextQueries.tokSqlExpr} AS toks FROM documents),
       |r AS (SELECT lang, source,
       |  len(toks)::bigint AS n_tokens,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw,
       |  CASE WHEN len(toks) > 0 THEN (len(toks) - len(list_distinct(toks)))::double / len(toks) END AS dup_word_raw
       |FROM t),
       |q AS (SELECT lang, source, n_tokens, dup_word_raw,
       |  round(dup_word_raw, 4) AS dup_word_raw_4,
       |  round(0.25 * alpha_raw + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) AS quality FROM r)
       |SELECT lang, source,
       |  GROUPING(lang, source)::bigint AS gid,
       |  count(*) AS n_docs,
       |  sum(n_tokens)::BIGINT AS total_tokens,
       |  min(n_tokens) AS min_tokens,
       |  max(n_tokens) AS max_tokens,
       |  round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
       |  round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
       |  round(sum(CASE WHEN n_tokens < 50 THEN 1 ELSE 0 END)::double / count(*), 4) AS short_frac,
       |  ((2 * sum(CAST(round(quality * 10000) AS BIGINT)) + count(*)) // (2 * count(*)))::double / 10000.0 AS avg_quality,
       |  CASE WHEN count(dup_word_raw) > 0 THEN
       |    ((2 * sum(CAST(round(dup_word_raw_4 * 10000) AS BIGINT)) + count(dup_word_raw)) // (2 * count(dup_word_raw)))::double / 10000.0
       |  END AS avg_dup_word
       |FROM q
       |GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
       |ORDER BY gid, lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin
  }
}
