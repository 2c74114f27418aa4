package graft

import org.apache.spark.sql.functions._
import graft.jobs.CurateJob

class CurateJobSpec extends SparkSpec {

  test("curate run: monotone funnel, deterministic re-run, real outputs") {
    val base = java.nio.file.Files.createTempDirectory("graft_curate_")
    try {
      val s = CurateJob.run(spark, sf, s"$base/out")
      // the funnel only ever narrows
      assert(s.nDocs >= s.nClean && s.nClean >= s.nQuality &&
        s.nQuality >= s.nUnique && s.nUnique >= s.nNeardup &&
        s.nNeardup >= s.nSampled, s"funnel must be monotone: $s")
      assert(s.nSampled > 0, s"pipeline must keep something: $s")
      assert(s.nSegments > 0, s"packs must materialize: $s")
      // physical outputs exist and agree with the summary — read
      // through the atomic-publish head pointer (the default layout)
      val shards = CurateJob.readOutput(spark, s"$base/out", "shards")
      assert(shards.count() == s.nSampled)
      assert(shards.select("shard").distinct().count() <= s.nShards)
      val report = CurateJob.readOutput(spark, s"$base/out", "report")
      assert(report.filter(col("gid") === 3).head().getAs[Long]("n_docs") == s.nDocs)
      val funnel = CurateJob.readOutput(spark, s"$base/out", "funnel").head()
      assert(funnel.getAs[Long]("n_sampled") == s.nSampled)
      // determinism: a re-run reproduces the same counts
      val s2 = CurateJob.run(spark, sf, s"$base/out2")
      assert(s2 == s, s"re-run must reproduce: $s vs $s2")
      // RE-PUBLISH to the SAME out-dir: the head flips to the new run's
      // generation atomically
      val s3 = CurateJob.run(spark, sf, s"$base/out")
      assert(s3 == s)
      assert(CurateJob.readOutput(spark, s"$base/out", "funnel")
        .head().getAs[Long]("n_sampled") == s.nSampled)
      // an out-dir published before the commit-log migration (fixed
      // subdirectories, no _commits) still reads via the fallback path
      CurateJob.readOutput(spark, s"$base/out2", "shards")
        .write.parquet(s"$base/legacy/shards")
      assert(CurateJob.readOutput(spark, s"$base/legacy", "shards")
        .count() == s.nSampled)
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  test("atomic publish: a crashed run's orphan generation is invisible and swept") {
    val base = java.nio.file.Files.createTempDirectory("graft_curate_crash_")
    try {
      val out = s"$base/out"
      val s = CurateJob.run(spark, sf, out)
      // a "crashed" second run: generation dir written, commit never
      // landed — readers must keep resolving run 1's outputs
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      spark.range(1).toDF("doc_id").write
        .parquet(s"$out/g-crashed1/shards")
      assert(CurateJob.readOutput(spark, out, "shards").count() == s.nSampled,
        "an uncommitted generation must be invisible to readers")
      // a YOUNG unreferenced generation is protected by the vacuum
      // grace — it may be a RACING run between its write and its
      // publish, and sweeping it would dangle that run's commit
      CurateJob.run(spark, sf, out)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/g-crashed1")),
        "a young orphan (possibly a racing writer) must survive the sweep")
      // the grace keys off the newest FILE, not the directory entry:
      // an ancient-looking dir mtime (S3A synthesizes listings with
      // mtime 0) must NOT age a generation whose files are fresh
      fs.setTimes(new org.apache.hadoop.fs.Path(s"$out/g-crashed1"), 0L, -1L)
      CurateJob.run(spark, sf, out)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/g-crashed1")),
        "a synthetic 0-mtime dir entry with fresh files must survive")
      // once its FILES age past the grace it is a genuinely crashed
      // run's residue, and the next run reclaims it
      def ageFiles(p: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(p).foreach { st =>
          if (st.isDirectory) ageFiles(st.getPath)
          else fs.setTimes(st.getPath,
            System.currentTimeMillis() - CurateJob.VacuumGraceMs - 3600000L, -1L)
        }
      ageFiles(new org.apache.hadoop.fs.Path(s"$out/g-crashed1"))
      CurateJob.run(spark, sf, out)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/g-crashed1")),
        "the aged orphan generation must be swept")
      assert(CurateJob.readOutput(spark, out, "funnel")
        .head().getAs[Long]("n_sampled") == s.nSampled)
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  test("stage toggles: a skipped stage passes through, flags parse strictly") {
    import graft.jobs.CurateJob.CurateConfig
    // flag parsing
    assert(CurateConfig.fromFlags(Nil) == CurateConfig())
    assert(CurateConfig.fromFlags(Seq("--skip-neardup", "--skip-pii")) ==
      CurateConfig(pii = false, neardup = false))
    intercept[IllegalArgumentException](CurateConfig.fromFlags(Seq("--skip-dedup")))

    val base = java.nio.file.Files.createTempDirectory("graft_curate_tog_")
    try {
      val all = CurateJob.run(spark, sf, s"$base/all")
      // near-dup off: that stage must be the identity (count = unique),
      // and everything upstream of it must be unchanged
      val noNd = CurateJob.run(spark, sf, s"$base/nond",
        CurateConfig(neardup = false))
      assert(noNd.nNeardup == noNd.nUnique, s"skipped stage must pass through: $noNd")
      assert(noNd.nUnique == all.nUnique && noNd.nQuality == all.nQuality,
        s"upstream stages must not move: $all vs $noNd")
      assert(noNd.nNeardup >= all.nNeardup,
        "skipping near-dup can only keep more docs")
      // filters off: the funnel head is the whole corpus
      val noFilters = CurateJob.run(spark, sf, s"$base/nofil",
        CurateConfig(repetition = false, quality = false, sample = false))
      assert(noFilters.nClean == noFilters.nDocs)
      assert(noFilters.nQuality == noFilters.nClean)
      assert(noFilters.nSampled == noFilters.nNeardup,
        s"skipped sampler must pass through: $noFilters")
      assert(noFilters.nUnique >= all.nUnique,
        "a wider funnel head cannot dedup to fewer survivors")
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  test("canonical survivors: same deletion count, better-or-equal picks") {
    import graft.jobs.CurateJob.CurateConfig
    assert(CurateConfig.fromFlags(Seq("--canonical-survivors")) ==
      CurateConfig(canonicalSurvivors = true))
    // sampling OFF so the shard layout holds the FULL survivor set and
    // the two rules' picks compare set-against-set, not through the
    // sampler's per-id hash decisions
    val base = java.nio.file.Files.createTempDirectory("graft_curate_canon_")
    try {
      val minId = CurateJob.run(spark, sf, s"$base/minid",
        CurateConfig(sample = false))
      val canon = CurateJob.run(spark, sf, s"$base/canon",
        CurateConfig(sample = false, canonicalSurvivors = true))
      // one survivor per cluster under EITHER rule: every funnel count
      // is identical — only WHICH copy survives may differ
      assert(canon == minId.copy(nSegments = canon.nSegments),
        s"survivor RULE must not change any count: $minId vs $canon")
      def survivors(out: String) =
        CurateJob.readOutput(spark, out, "shards").select("doc_id")
      def meanQuality(ids: org.apache.spark.sql.DataFrame): Double =
        spark.read.parquet(s"$sf/documents.parquet")
          .join(ids, Seq("doc_id"), "left_semi")
          .agg(avg(graft.functions.TextFunctions.qualityScore(col("text"))))
          .head().getDouble(0)
      val a = survivors(s"$base/minid")
      val b = survivors(s"$base/canon")
      assert(a.count() == b.count())
      // argmax-per-cluster dominates any other per-cluster pick
      assert(meanQuality(b) >= meanQuality(a) - 1e-12,
        "canonical survivors cannot have lower mean quality than min-id picks")
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }
}
