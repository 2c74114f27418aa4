package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.operators.Sharding
import graft.sinks.{CommitLog, DirManifest, VersionCatalog}

/** CLI: the nightly MAINTENANCE run — the housekeeping pass every
  * incrementally-ingested z-order layout needs, assembled from the
  * individually-gated operators (the CurateJob composition pattern
  * applied to storage health instead of content):
  *
  *   1. MEASURE layout health (q164's per-file z-range overlap report —
  *      footer-stats metadata, not data);
  *   2. OPTIMIZE only the flagged cells if the overlap budget is
  *      exceeded (q215's targeted re-cluster, one commit across the
  *      rewrite set — clean cells keep their exact dirs, so a healthy
  *      night costs a metadata read), then refresh the q216 zone-map
  *      manifest iff the optimize touched data (stale stats stop
  *      pruning; a manifest row for a deleted file would prune a
  *      phantom);
  *   3. SWEEP generations no retained commit references (superseded
  *      cells past the reader-retention margin, crashed writers'
  *      orphans);
  *   4. COMMIT the post-maintenance layout as a catalog version and
  *      VACUUM past the retention window (q166's manifest-authoritative
  *      time travel — the release-management trail an auditable corpus
  *      keeps).
  *
  * Every step is idempotent (optimize no-op on a healthy layout, sweep
  * of what no commit references, versioning append-only), so a crashed
  * run re-runs safely — the reference's own tolerance posture
  * (mongo.py:148-159) applied to maintenance.
  *
  * The layout is the commit-log z-layout ([[Sharding.zWriteManifested]]).
  * A plain partition directory with no `_commits` is REFUSED before
  * anything is read or written: reading it through a manifest would see
  * nothing, and the rename-publishing night that once served it is
  * retired (it lost rows on a crash between its delete and rename).
  * Migrate by writing the rows once through [[Sharding.zWriteManifested]].
  * There is no standalone compaction step: the optimize collapses every
  * rewritten cell to one dir.
  *
  * Scale shape: steps 1-2 are driver-side set algebra over ≤ |files|
  * stats rows plus I/O proportional to what actually degraded; step 4
  * is metadata plus the snapshot copy the retention policy demands. A
  * 100 TB layout that stayed healthy pays footer reads and nothing
  * else.
  *
  * Usage: MaintainJob <layoutDir> <catalogDir>
  *        [--max-overlap N] [--retain N]
  *        [--n-files N] [--z-space N] [--stats-cols a,b]
  */
object MaintainJob {

  final case class MaintainSummary(overlapBefore: Long,
                                   overlapAfter: Long, filesRewritten: Long,
                                   statsRefreshed: Boolean,
                                   version: Long, vacuumed: Seq[Long],
                                   generationsSwept: Long = 0L)

  final case class MaintainConfig(maxOverlap: Long = 0L,
                                  retain: Int = 3,
                                  nFiles: Int = 8, // q138's ZFiles default
                                  zSpace: Long = 1L << 16,
                                  statsCols: Seq[String] = Nil)

  object MaintainConfig {
    def fromFlags(flags: Seq[String]): MaintainConfig = {
      def parse(c: MaintainConfig, fs: List[String]): MaintainConfig = fs match {
        case Nil => c
        case "--max-overlap" :: v :: rest => parse(c.copy(maxOverlap = v.toLong), rest)
        case "--retain" :: v :: rest => parse(c.copy(retain = v.toInt), rest)
        case "--n-files" :: v :: rest => parse(c.copy(nFiles = v.toInt), rest)
        case "--z-space" :: v :: rest => parse(c.copy(zSpace = v.toLong), rest)
        case "--stats-cols" :: v :: rest =>
          parse(c.copy(statsCols = v.split(',').toSeq.filter(_.nonEmpty)), rest)
        case f :: _ => throw new IllegalArgumentException(
          s"unknown flag '$f' (known: --max-overlap, --retain, " +
            "--n-files, --z-space, --stats-cols)")
      }
      parse(MaintainConfig(), flags.toList)
    }
  }

  def run(spark: SparkSession, layoutDir: String, catalogDir: String,
          cfg: MaintainConfig = MaintainConfig()): MaintainSummary = {
    val commits = new org.apache.hadoop.fs.Path(layoutDir, CommitLog.Dir)
    if (!commits.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(commits))
      throw new IllegalArgumentException(
        s"no commit log at $commits: MaintainJob runs only on the commit-log " +
          s"z-layout; refusing to touch the plain partition directory " +
          s"$layoutDir (write its rows once through Sharding.zWriteManifested)")
    def layout() = Sharding.zReadManifested(spark, layoutDir)
    // 1. measure (footer-stats scale; reopened through the mapping)
    def overlapSum(): Long = {
      val row = Sharding.layoutHealth(
          layout().select(col("zkey"), col("file_id")))
        .agg(sum(col("overlap_cnt"))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0) // empty layout → healthy
    }
    val before = overlapSum()
    // 2. optimize only when the measured budget is exceeded — the
    //    monitor schedules the rewrite, the rewrite touches only
    //    flagged (+ closure-promoted) cells and publishes them in ONE
    //    commit
    val stats =
      if (before <= cfg.maxOverlap) Sharding.OptimizeStats(Nil, Nil, Nil)
      else Sharding.optimizeFlaggedManifested(spark, layoutDir, cfg.nFiles,
        cfg.zSpace)
    val after = if (stats.rewritten.nonEmpty) overlapSum() else before
    // 2b. the zone-map manifest must FOLLOW every rewrite — refresh it
    //     when the optimize touched data (or it does not exist yet); a
    //     healthy no-op night leaves it untouched so the night stays
    //     metadata-only
    val statsRefreshed = cfg.statsCols.nonEmpty &&
      (stats.rewritten.nonEmpty || !Sharding.hasStatsManifest(spark, layoutDir))
    if (statsRefreshed)
      Sharding.refreshStatsManifestFrom(layout(), layoutDir, cfg.statsCols)
    // 3. sweep generations past the reader-retention margin (superseded
    //    by the optimize above or by earlier appends)
    val swept = DirManifest.vacuum(spark, layoutDir).size.toLong
    // 4. version the maintained layout and enforce retention
    val version = VersionCatalog.commit(spark, catalogDir, layout())
    val vacuumed = VersionCatalog.vacuum(spark, catalogDir, cfg.retain)
    MaintainSummary(before, after, stats.rewritten.size.toLong,
      statsRefreshed, version, vacuumed, swept)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MaintainJob <layoutDir> <catalogDir> [flags]")
    val cfg = MaintainConfig.fromFlags(args.drop(2).toSeq)
    val spark = GraftSession.builder().getOrCreate()
    val s = run(spark, args(0), args(1), cfg)
    // structured stage log (the reference's dict-event style, log.py:15-41)
    System.err.println(
      s"""{"stage":"maintain",""" +
        s""""overlap_before":${s.overlapBefore},"overlap_after":${s.overlapAfter},""" +
        s""""files_rewritten":${s.filesRewritten},""" +
        s""""stats_refreshed":${s.statsRefreshed},"version":${s.version},""" +
        s""""vacuumed":[${s.vacuumed.mkString(",")}],""" +
        s""""generations_swept":${s.generationsSwept}}""")
    spark.stop()
  }
}
