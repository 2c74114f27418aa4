package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{GraftSession, Parquets}
import graft.operators.Sharding
import graft.sinks.{Compaction, VersionCatalog}

/** CLI: the nightly MAINTENANCE run — the housekeeping pass every
  * incrementally-ingested corpus layout needs, assembled from the
  * individually-gated operators (the CurateJob composition pattern
  * applied to storage health instead of content):
  *
  *   1. COMPACT the partitioned snapshot's fragmented directories
  *      (q80's skip-aware per-directory rewrite — only dirs over their
  *      byte-derived file target pay I/O);
  *   2. MEASURE layout health (q164's per-file z-range overlap report —
  *      footer-stats metadata, not data);
  *   3. OPTIMIZE only the flagged files if the overlap budget is
  *      exceeded (q165's targeted re-cluster — clean files stay
  *      byte-identical, so a healthy night costs a metadata read),
  *      then refresh the q169 zone-map manifest iff a step touched
  *      data (stale stats stop pruning; a manifest row for a deleted
  *      file would prune a phantom);
  *   4. COMMIT the post-maintenance layout as a catalog version and
  *      VACUUM past the retention window (q166's manifest-authoritative
  *      time travel — the release-management trail an auditable corpus
  *      keeps).
  *
  * Every step is idempotent (compaction skip-gate, optimize no-op on a
  * healthy layout, versioning append-only), so a crashed run re-runs
  * safely — the reference's own tolerance posture (mongo.py:148-159)
  * applied to maintenance.
  *
  * Scale shape: steps 2-3 are driver-side set algebra over ≤ |files|
  * stats rows plus I/O proportional to what actually degraded; step 1
  * reads only over-target directories; step 4 is metadata plus the
  * snapshot copy the retention policy demands. A 100 TB layout that
  * stayed healthy pays footer reads and nothing else.
  *
  * LAYOUT MODE (auto-detected): a layout that publishes through a
  * commit log ([[Sharding.zWriteManifested]] — the default layout
  * since the commit-log migration) gets the MANIFESTED night with no
  * flag: health and optimize read through the mapping, the rewrite
  * publishes in one commit ([[Sharding.optimizeFlaggedManifested]]),
  * standalone compaction is subsumed (optimize collapses rewritten
  * cells; the generation sweep reclaims superseded dirs), and the
  * zone-map manifest refreshes from the mapping-reconstructed frame.
  * A plain rename-layout dir (no `_commits`) runs the legacy
  * per-dir-swap night. The layout decides; there is no flag, because
  * forcing either night on the other layout is wrong: a rename night
  * over a commit-log layout would read every generation dir raw and
  * rewrite files the manifest pins.
  *
  * Usage: MaintainJob <layoutDir> <catalogDir>
  *        [--target-bytes N] [--max-overlap N] [--retain N]
  *        [--n-files N] [--z-space N] [--stats-cols a,b]
  */
object MaintainJob {

  final case class MaintainSummary(dirsCompacted: Long, filesBefore: Long,
                                   filesAfter: Long, overlapBefore: Long,
                                   overlapAfter: Long, filesRewritten: Long,
                                   statsRefreshed: Boolean,
                                   version: Long, vacuumed: Seq[Long],
                                   generationsSwept: Long = 0L)

  final case class MaintainConfig(targetBytes: Long = 128L << 20,
                                  maxOverlap: Long = 0L,
                                  retain: Int = 3,
                                  nFiles: Int = 8, // q138's ZFiles default
                                  zSpace: Long = 1L << 16,
                                  statsCols: Seq[String] = Nil)

  object MaintainConfig {
    def fromFlags(flags: Seq[String]): MaintainConfig = {
      def parse(c: MaintainConfig, fs: List[String]): MaintainConfig = fs match {
        case Nil => c
        case "--target-bytes" :: v :: rest => parse(c.copy(targetBytes = v.toLong), rest)
        case "--max-overlap" :: v :: rest => parse(c.copy(maxOverlap = v.toLong), rest)
        case "--retain" :: v :: rest => parse(c.copy(retain = v.toInt), rest)
        case "--n-files" :: v :: rest => parse(c.copy(nFiles = v.toInt), rest)
        case "--z-space" :: v :: rest => parse(c.copy(zSpace = v.toLong), rest)
        case "--stats-cols" :: v :: rest =>
          parse(c.copy(statsCols = v.split(',').toSeq.filter(_.nonEmpty)), rest)
        case f :: _ => throw new IllegalArgumentException(
          s"unknown flag '$f' (known: --target-bytes, --max-overlap, --retain, " +
            "--n-files, --z-space, --stats-cols)")
      }
      parse(MaintainConfig(), flags.toList)
    }
  }

  /** A layout is manifested iff it publishes through a commit log
    * (a `_commits` directory under it): a migrated layout gets the
    * rename-free night without a flag. */
  private def detectManifested(spark: SparkSession, layoutDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(layoutDir, graft.sinks.CommitLog.Dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def run(spark: SparkSession, layoutDir: String, catalogDir: String,
          cfg: MaintainConfig = MaintainConfig()): MaintainSummary = {
    val manifested = detectManifested(spark, layoutDir)
    // 1. compact fragmented partition directories (skip-aware). The
    //    MANIFESTED layout has no standalone compaction step: its
    //    optimize collapses every rewritten cell to one dir, and the
    //    generation sweep below reclaims superseded dirs.
    val comp =
      if (manifested) Compaction.CompactStats(0L, 0L, 0L, 0L)
      else Compaction.compactPartitioned(spark, layoutDir, cfg.targetBytes)
    def layout() =
      if (manifested) Sharding.zReadManifested(spark, layoutDir)
      else Parquets.read(spark, layoutDir)
    // 2. measure (footer-stats scale; reopened through the physical path)
    def overlapSum(): Long = {
      val row = Sharding.layoutHealth(
          layout().select(col("zkey"), col("file_id")))
        .agg(sum(col("overlap_cnt"))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0) // empty layout → healthy
    }
    val before = overlapSum()
    // 3. optimize only when the measured budget is exceeded — the
    //    monitor schedules the rewrite, the rewrite touches only
    //    flagged (+ closure-promoted) files; the manifested form
    //    publishes the whole rewrite set in ONE commit
    val stats =
      if (before <= cfg.maxOverlap) Sharding.OptimizeStats(Nil, Nil, Nil)
      else if (manifested)
        Sharding.optimizeFlaggedManifested(spark, layoutDir, cfg.nFiles,
          cfg.zSpace)
      else Sharding.optimizeFlagged(spark, layoutDir, cfg.nFiles, cfg.zSpace)
    val after = if (stats.rewritten.nonEmpty) overlapSum() else before
    // 3b. the zone-map manifest must FOLLOW every rewrite — refresh it
    //     when a step touched data (or it does not exist yet); a healthy
    //     no-op night leaves it untouched so the night stays metadata-only
    val touched = comp.nCompacted > 0 || stats.rewritten.nonEmpty
    val statsRefreshed = cfg.statsCols.nonEmpty &&
      (touched || !Sharding.hasStatsManifest(spark, layoutDir))
    if (statsRefreshed)
      Sharding.refreshStatsManifestFrom(layout(), layoutDir, cfg.statsCols)
    // 3c. manifested housekeeping: sweep generations past the
    //     reader-retention margin (superseded by the optimize above or
    //     by earlier appends) — the rename layout's per-dir swaps have
    //     nothing to sweep
    val swept =
      if (manifested)
        graft.sinks.DirManifest.vacuum(spark, layoutDir).size.toLong
      else 0L
    // 4. version the maintained layout and enforce retention
    val version = VersionCatalog.commit(spark, catalogDir, layout())
    val vacuumed = VersionCatalog.vacuum(spark, catalogDir, cfg.retain)
    MaintainSummary(comp.nCompacted, comp.filesBefore, comp.filesAfter,
      before, after, stats.rewritten.size.toLong, statsRefreshed,
      version, vacuumed, swept)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MaintainJob <layoutDir> <catalogDir> [flags]")
    val cfg = MaintainConfig.fromFlags(args.drop(2).toSeq)
    val spark = GraftSession.builder().getOrCreate()
    val s = run(spark, args(0), args(1), cfg)
    // structured stage log (the reference's dict-event style, log.py:15-41)
    System.err.println(
      s"""{"stage":"maintain","dirs_compacted":${s.dirsCompacted},""" +
        s""""overlap_before":${s.overlapBefore},"overlap_after":${s.overlapAfter},""" +
        s""""files_rewritten":${s.filesRewritten},""" +
        s""""stats_refreshed":${s.statsRefreshed},"version":${s.version},""" +
        s""""vacuumed":[${s.vacuumed.mkString(",")}],""" +
        s""""generations_swept":${s.generationsSwept}}""")
    spark.stop()
  }
}
