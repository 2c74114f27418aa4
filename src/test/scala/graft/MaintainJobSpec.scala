package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.jobs.MaintainJob
import graft.operators.Sharding
import graft.sinks.VersionCatalog

/** The nightly maintenance composition: measure → targeted optimize →
  * zone-map refresh → generation sweep → version+vacuum, each stage
  * individually gated elsewhere (q164/q215/q216/q166) — this pins the
  * COMPOSITION: a degraded layout heals, a healthy layout costs a
  * metadata read, retention holds, a re-run is idempotent, and a plain
  * partition directory is refused untouched. */
class MaintainJobSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(base: java.nio.file.Path) =
    new Path(base.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def grid = (for (a <- 0L until 64L; b <- 0L until 64L) yield (a * 4, b * 4))
    .toDF("qb", "lb")
    .withColumn("zkey", Sharding.zOrderKey(col("qb"), col("lb"), 8))
    .withColumn("file_id", expr(s"zkey * 8 div ${1L << 16}"))

  /** q215's degraded fixture on the commit-log z-layout: 8 clustered
    * cells over a 256×256 bucket grid + one appended unclustered low-z
    * cell. */
  private def writeDegraded(path: String): Unit = {
    Sharding.zWriteManifested(spark, path, grid, append = false)
    val appended = (for (a <- 0L until 16L; b <- 0L until 16L)
        yield (a * 4 + 1, b * 4 + 1))
      .toDF("qb", "lb")
      .withColumn("zkey", Sharding.zOrderKey(col("qb"), col("lb"), 8))
      .filter(col("zkey") < (1L << 14))
      .withColumn("file_id", lit(8L))
    Sharding.zWriteManifested(spark, path, appended, append = true)
  }

  test("a degraded layout heals: targeted optimize + versioning") {
    val base = java.nio.file.Files.createTempDirectory("graft_maintain_")
    try {
      val layout = s"$base/layout"
      val catalog = s"$base/catalog"
      writeDegraded(layout)
      val rows = Sharding.zReadManifested(spark, layout).count()
      val s = MaintainJob.run(spark, layout, catalog,
        MaintainJob.MaintainConfig(statsCols = Seq("zkey"), retain = 3))
      assert(s.overlapBefore > 0 && s.overlapAfter == 0,
        s"optimize must restore disjoint ranges: $s")
      assert(s.filesRewritten > 0 && s.filesRewritten < 9,
        s"optimize must rewrite a strict subset: $s")
      assert(s.statsRefreshed, "zone-map manifest must refresh after a rewrite")
      // reader-retention margin: the previous head's generations survive
      // the first post-optimize sweep (a reader mid-scan must finish)
      assert(s.generationsSwept == 0L, s"margin must hold on night 1: $s")
      assert(s.version == 1L && s.vacuumed.isEmpty)
      // no rows lost through the whole pass, and the version snapshot
      // equals the maintained layout
      assert(Sharding.zReadManifested(spark, layout).count() == rows)
      assert(VersionCatalog.readVersion(spark, catalog, 1L).count() == rows)
      // the skipping scan consumes the refreshed zone maps: a low-z
      // window must open a strict subset of cells, rows exact
      val scan = Sharding.skippingScanManifested(spark, layout, "zkey",
        lit(0L), lit((1L << 13) - 1))
      assert(scan.filesRead > 0 && scan.filesRead < scan.filesTotal,
        s"zone maps must prune cells: $scan")
      val want = Sharding.zReadManifested(spark, layout)
        .filter(col("zkey") < (1L << 13)).count()
      assert(scan.rows.count() == want)
      // a second night is a no-op on a healthy layout — but it DOES
      // reclaim a crashed writer's orphan generation (unreferenced by
      // any commit, so the retention margin never applies to it)
      grid.limit(1).write.parquet(s"$layout/g-crashed0/file_id=0")
      val s2 = MaintainJob.run(spark, layout, catalog,
        MaintainJob.MaintainConfig(statsCols = Seq("zkey"), retain = 3))
      assert(s2.overlapBefore == 0 && s2.filesRewritten == 0 &&
        !s2.statsRefreshed)
      assert(s2.generationsSwept == 1L,
        s"the orphan generation must be reclaimed: $s2")
      assert(Sharding.zReadManifested(spark, layout).count() == rows)
    } finally fsOf(base).delete(new Path(base.toString), true)
  }

  test("a plain partition-directory layout (no _commits) is refused loudly and left byte-identical") {
    val base = java.nio.file.Files.createTempDirectory("graft_maint_plain_")
    try {
      val layout = s"$base/layout"
      val catalog = s"$base/catalog"
      grid.repartition(col("file_id"))
        .write.mode("overwrite").partitionBy("file_id").parquet(layout)
      val fs = fsOf(base)
      def snapshot(): Seq[(String, Long, Long)] = {
        val it = fs.listFiles(new Path(layout), true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
          .toSeq.sorted
      }
      val before = snapshot()
      val e = intercept[IllegalArgumentException] {
        MaintainJob.run(spark, layout, catalog,
          MaintainJob.MaintainConfig(statsCols = Seq("zkey")))
      }
      assert(e.getMessage.contains(layout), e.getMessage)
      assert(snapshot() == before, "a refused layout must stay byte-identical")
      assert(!fs.exists(new Path(catalog)), "a refused night must not version")
    } finally fsOf(base).delete(new Path(base.toString), true)
  }

  test("a healthy layout is a no-op night; retention vacuums old versions") {
    val base = java.nio.file.Files.createTempDirectory("graft_maintain2_")
    try {
      val layout = s"$base/layout"
      val catalog = s"$base/catalog"
      writeDegraded(layout)
      val cfg = MaintainJob.MaintainConfig(retain = 2)
      MaintainJob.run(spark, layout, catalog, cfg)
      // night 2: already healthy — nothing rewrites
      val s2 = MaintainJob.run(spark, layout, catalog, cfg)
      assert(s2.filesRewritten == 0 &&
        s2.overlapBefore == 0 && s2.overlapAfter == 0,
        s"healthy night must be a metadata read: $s2")
      assert(s2.version == 2L && s2.vacuumed.isEmpty)
      // night 3: retention window (2) pushes v1 out
      val s3 = MaintainJob.run(spark, layout, catalog, cfg)
      assert(s3.version == 3L && s3.vacuumed == Seq(1L), s"retention: $s3")
      assert(VersionCatalog.versions(spark, catalog) == Seq(2L, 3L))
    } finally fsOf(base).delete(new Path(base.toString), true)
  }

  test("flag parsing is strict and complete") {
    val c = MaintainJob.MaintainConfig.fromFlags(Seq(
      "--max-overlap", "2", "--retain", "5",
      "--n-files", "16", "--z-space", "1048576", "--stats-cols", "qb,lb"))
    assert(c == MaintainJob.MaintainConfig(2L, 5, 16, 1048576L,
      Seq("qb", "lb")))
    intercept[IllegalArgumentException] {
      MaintainJob.MaintainConfig.fromFlags(Seq("--bogus"))
    }
    // the retired compaction's byte target is no longer a flag
    intercept[IllegalArgumentException] {
      MaintainJob.MaintainConfig.fromFlags(Seq("--target-bytes", "1024"))
    }
  }

  test("the zone-map manifest follows rewrites and rests on healthy nights") {
    val base = java.nio.file.Files.createTempDirectory("graft_maintain3_")
    try {
      val layout = s"$base/layout"
      val catalog = s"$base/catalog"
      writeDegraded(layout)
      val cfg = MaintainJob.MaintainConfig(retain = 3, statsCols = Seq("zkey"))
      // night 1: the pass rewrites cells AND (first contact) writes _stats
      val s1 = MaintainJob.run(spark, layout, catalog, cfg)
      assert(s1.statsRefreshed, s"first night must build the manifest: $s1")
      // the refreshed manifest prunes correctly on the POST-optimize layout:
      // a skipping scan over it loses no row vs the brute-force filter
      val scan = Sharding.skippingScanManifested(spark, layout, "zkey",
        lit(0L), lit((1L << 13) - 1))
      assert(scan.filesRead < scan.filesTotal, s"zone maps must prune: $scan")
      val brute = Sharding.zReadManifested(spark, layout)
        .filter(col("zkey") < (1L << 13)).select(col("zkey"))
      val got = scan.rows.select(col("zkey"))
      assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
      // night 2: healthy — manifest untouched (metadata-only night)
      val fs = fsOf(base)
      val statsFile = fs.globStatus(new Path(s"$layout/_stats/part-*.parquet"))(0)
      val s2 = MaintainJob.run(spark, layout, catalog, cfg)
      assert(!s2.statsRefreshed, s"healthy night must not rewrite stats: $s2")
      val statsFile2 = fs.globStatus(new Path(s"$layout/_stats/part-*.parquet"))(0)
      assert(statsFile.getPath == statsFile2.getPath &&
        statsFile.getModificationTime == statsFile2.getModificationTime,
        "manifest file must be byte-level untouched on a healthy night")
    } finally fsOf(base).delete(new Path(base.toString), true)
  }
}
