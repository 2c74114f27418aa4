package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Parquets}
import graft.functions.TextFunctions
import graft.obs.StageMetrics
import graft.operators.{CorpusReport, Dedup, Sharding, TextQueries, TrainingData}
import graft.sinks.{CommitLog, DirManifest}

/** CLI: the end-to-end corpus CURATION run — the pipeline a
  * training-data user actually schedules nightly, assembled from the
  * individually-gated operators (each stage's semantics is proven by
  * its own oracle row; the composition shape by q54/q56/q76):
  *
  *   documents → corpus report (q77) → repetition filter (q75) →
  *   quality + length filter (q16/q61) → PII redaction (q74) →
  *   exact dedup (q15) → near-dup cluster survivors (q21+q52) →
  *   mixture sample (q44) → global shuffle-shard (q78) →
  *   packed export (q58)
  *
  * Writes four outputs under `<out>/`: `report` (the one-scan quality
  * dashboard), `funnel` (per-stage counts — the run's audit row),
  * `shards` (the shuffled corpus layout a loader streams), `packs`
  * (the token-budget pack segments). They publish ATOMICALLY: all
  * four land in one immutable generation dir and flip together
  * through a single commit-file create (read them back with
  * [[readOutput]] — out-dirs published before the commit-log
  * migration fall back to the fixed subdirectories). Every decision is
  * deterministic (seeded hashes), so a re-run reproduces the same
  * outputs — the property that makes the nightly run idempotent.
  *
  * Scale shape: one corpus scan for the report; the filter chain is a
  * narrow map fused into the dedup scan; near-dup runs AFTER exact
  * dedup on the smallest frame (SCALE.md q56 note); the stage boundary
  * before the pair emitter is localCheckpointed once (at 100 TB: a
  * parquet staging write). Reference analog: the reference's whole CLI
  * surface is generate+update (setup.py:16-19); this is the third job
  * a corpus engine owes its user.
  *
  * Usage: CurateJob <docsParquetDirOrFixtureDir> <outDir>
  *        [--skip-<stage> ...] [--canonical-survivors]
  */
object CurateJob {

  final case class CurateSummary(nDocs: Long, nClean: Long, nQuality: Long,
                                 nUnique: Long, nNeardup: Long, nSampled: Long,
                                 nShards: Long, nSegments: Long)

  /** Stage toggles (`--skip-<stage>` CLI flags): a nightly operator
    * turns stages off to trade corpus quality for wall-clock (near-dup
    * is the expensive one) or because a stage ran upstream already
    * (e.g. PII redaction at ingest). EXACT dedup is deliberately NOT
    * togglable — it is the pipeline's staging boundary (the
    * localCheckpoint every later stage reads) and the cheapest stage by
    * far; a skipped stage passes its frame through unchanged, so its
    * funnel count equals its predecessor's and the audit row stays
    * comparable across differently-configured runs.
    *
    * `--canonical-survivors` switches the near-dup stage's survivor
    * rule from min-id (q52's arrival-order pick) to argmax-quality with
    * min-id tie-break (q108's keep-the-best-copy rule) — the deletion
    * COUNT per cluster is identical (one survivor each), only WHICH
    * copy survives changes, so funnel counts stay comparable while the
    * surviving text quality improves. */
  final case class CurateConfig(repetition: Boolean = true, quality: Boolean = true,
                                pii: Boolean = true, neardup: Boolean = true,
                                sample: Boolean = true,
                                canonicalSurvivors: Boolean = false)

  object CurateConfig {
    def fromFlags(flags: Seq[String]): CurateConfig =
      flags.foldLeft(CurateConfig()) {
        case (c, "--skip-repetition") => c.copy(repetition = false)
        case (c, "--skip-quality")    => c.copy(quality = false)
        case (c, "--skip-pii")        => c.copy(pii = false)
        case (c, "--skip-neardup")    => c.copy(neardup = false)
        case (c, "--skip-sample")     => c.copy(sample = false)
        case (c, "--canonical-survivors") => c.copy(canonicalSurvivors = true)
        case (_, f) => throw new IllegalArgumentException(
          s"unknown flag '$f' (known: --skip-{repetition,quality,pii,neardup,sample}, " +
            "--canonical-survivors)")
      }
  }

  /** The run's four named outputs, published together. */
  private val Outputs = Seq("report", "funnel", "shards", "packs")

  /** Read a published output (`report` / `funnel` / `shards` / `packs`)
    * from a curate out-dir: resolves the commit-log head's pointer, and
    * falls back to the fixed subdirectory layout of out-dirs published
    * before the commit-log migration — readers migrate without a flag
    * day. */
  def readOutput(spark: SparkSession, outDir: String,
                 name: String): DataFrame = {
    require(Outputs.contains(name),
      s"unknown output '$name' (known: ${Outputs.mkString(", ")})")
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirManifest.head(fs, root).flatMap(_._2.extra.get(name)) match {
      case Some(rel) => Parquets.read(spark, s"$outDir/$rel")
      case None => Parquets.read(spark, s"$outDir/$name")
    }
  }

  private val MaxDupWord = 0.6
  private val MinQuality = 0.45
  private val MinTokens = 10
  private val MixRates = Map("en" -> 0.9, "de" -> 0.8, "es" -> 0.8,
    "fr" -> 0.8, "zh" -> 0.7, "und" -> 0.5)
  private val Seed = "curate"
  private val PackBudget = 512
  private val Shards = 8

  def run(spark: SparkSession, docsPath: String, outDir: String,
          cfg: CurateConfig = CurateConfig()): CurateSummary = {
    val path = if (new java.io.File(s"$docsPath/documents.parquet").exists())
      s"$docsPath/documents.parquet" else docsPath
    val docs = Parquets.read(spark, path)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))

    // OUTPUT ROUTING — ATOMIC: the four outputs land under one
    // immutable generation dir, invisible to readers until the single
    // commit-file create below flips them together (the commit-log
    // migration applied to the nightly run's PUBLISH step: a reader
    // concurrent with a re-run never sees night N's shards beside
    // night N-1's packs, and a crashed run leaves an invisible orphan
    // generation instead of a half-overwritten out-dir — the exact
    // window mode("overwrite")'s delete-then-write leaves open, and on
    // an object store there is no rename to close it with).
    val gen = "g-" + java.util.UUID.randomUUID().toString.take(8)
    def out(name: String): String = s"$outDir/$gen/$name"

    // one-scan dashboard over the INPUT corpus — the run's before picture
    CorpusReport.corpusReport(docs, "text", Seq("lang", "source"))
      .write.mode("overwrite").parquet(out("report"))

    // repetition + quality + length filters, then PII redaction — all
    // narrow maps; the repetition metrics join back on doc_id so the
    // expensive bigram scan runs once (q76's composition)
    val clean = if (!cfg.repetition) docs else {
      val rep = TextQueries.repetitionStats(docs, "doc_id", "text")
        .select(col("doc_id"), col("dup_word_frac"))
      docs.join(rep, Seq("doc_id"))
        .filter(col("dup_word_frac").isNull || col("dup_word_frac") <= MaxDupWord)
    }
    val quality = if (!cfg.quality) clean else clean
      .filter(TextFunctions.qualityScore(col("text")) >= MinQuality &&
        TextFunctions.tokenCount(col("text")) >= MinTokens)
    val redacted = if (!cfg.pii)
      quality.select(col("doc_id"), col("lang"), col("source"), col("text"))
    else TextQueries.redactPii(quality, "text")
      .select(col("doc_id"), col("lang"), col("source"),
        col("redacted").as("text"))

    // exact dedup survivors carry their text into the near-dup stage;
    // the boundary is materialized once — every stage below reads it
    val uniq = redacted
      .withColumn("content_hash", md5(col("text")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("content_hash"))
          .orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn", "content_hash")
      .localCheckpoint(true)

    // near-dup cluster survivors (q56's anti-join-by-cluster semantic;
    // with --canonical-survivors the pick is q108's argmax-quality rule)
    val survBase = if (!cfg.neardup) uniq else {
      val pairs = Dedup.simhashPairs(uniq, "doc_id", "text", maxHamming = 3)
      val nonSurvivors = if (cfg.canonicalSurvivors) {
        // members referenced by the score semi-join AND the canonical
        // agg — materialize once (the q108 lesson)
        val members = Dedup.clusterComponents(pairs).localCheckpoint(true)
        val scored = uniq
          .join(broadcast(members.select(col("id").as("doc_id"))),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id").as("id"),
            round(TextFunctions.qualityScore(col("text")), 4).as("score"))
        TrainingData.canonicalByScore(members, scored)
          .filter(!col("kept")).select(col("id").as("doc_id"))
      } else Dedup.clusterComponents(pairs)
        .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
      uniq.join(nonSurvivors, Seq("doc_id"), "left_anti")
    }
    val surv = survBase
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
      .localCheckpoint(true)

    val sampled = if (!cfg.sample) surv.select(col("doc_id"), col("lang"), col("n_tokens"))
    else TrainingData.mixtureSample(
      surv.select(col("doc_id"), col("lang"), col("n_tokens")),
      "doc_id", "lang", MixRates, Seed)

    // physical outputs: the shuffled shard layout + the pack segments
    Sharding.exportShards(sampled.select(col("doc_id")), "doc_id",
      Shards, Seed, out("shards"))
    val packs = TrainingData.exportPacks(
      sampled.select(col("doc_id"), col("lang"), col("n_tokens")),
      "lang", "doc_id", col("n_tokens"), PackBudget, shards = 4, Seed,
      out("packs"))

    val summary = CurateSummary(
      nDocs = docs.count(), nClean = clean.count(), nQuality = quality.count(),
      nUnique = uniq.count(), nNeardup = surv.count(), nSampled = sampled.count(),
      nShards = Shards.toLong, nSegments = packs.count())
    import spark.implicits._
    Seq((summary.nDocs, summary.nClean, summary.nQuality, summary.nUnique,
        summary.nNeardup, summary.nSampled, summary.nShards, summary.nSegments))
      .toDF("n_docs", "n_clean", "n_quality", "n_unique", "n_neardup",
        "n_sampled", "n_shards", "n_segments")
      .write.mode("overwrite").parquet(out("funnel"))

    // ONE commit flips all four outputs; a CAS loser (two nightly
    // runs racing the same out-dir) re-reads and repoints — last
    // publisher wins per output, both generations retained until
    // the vacuum margin passes
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.retrying {
      val head = DirManifest.head(fs, root)
      val st = head.map(_._2).getOrElse(DirManifest.DmState(Map.empty))
      DirManifest.commitCas(fs, root, head.map(_._1).getOrElse(0L),
        st.copy(extra = st.extra ++ Outputs.map(n => n -> s"$gen/$n")))
    }
    // sweep superseded runs — with an AGE GRACE, because this vacuum
    // runs beside possibly racing nightly runs: a concurrent run's
    // generation between its write and its publish is
    // indistinguishable from an orphan, and sweeping it would turn
    // the loser's CAS repoint into dangling pointers. The grace
    // bounds the protected window; genuinely crashed runs' orphans
    // age past it and sweep on a later night.
    DirManifest.vacuum(spark, outDir, minAgeMs = VacuumGraceMs)
    summary
  }

  /** How long an unreferenced generation must sit before the per-run
    * vacuum may sweep it — must cover a racing run's write-to-publish
    * window (a nightly run is minutes; the grace is hours). */
  private[graft] val VacuumGraceMs: Long = 6L * 3600 * 1000

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurateJob <docsPath> <outDir> [--skip-repetition|--skip-quality|--skip-pii|--skip-neardup|--skip-sample|--canonical-survivors ...]")
    val cfg = CurateConfig.fromFlags(args.drop(2).toSeq)
    val spark = GraftSession.getOrCreate()
    val (s, stages) = StageMetrics.withStageMetrics(spark) {
      run(spark, args(0), args(1), cfg)
    }
    stages.foreach(e => println(e.toJson))
    println(s"""{"stage":"curate","status":"success","n_docs":${s.nDocs},""" +
      s""""n_clean":${s.nClean},"n_quality":${s.nQuality},"n_unique":${s.nUnique},""" +
      s""""n_neardup":${s.nNeardup},"n_sampled":${s.nSampled},""" +
      s""""n_shards":${s.nShards},"n_segments":${s.nSegments}}""")
    spark.stop()
  }
}
