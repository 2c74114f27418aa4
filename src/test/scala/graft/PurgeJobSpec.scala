package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.jobs.PurgeJob
import graft.operators.MergeQueries
import graft.sinks.{ManifestMergeSink, VersionCatalog}

/** The one-operation deletion run: all three purge targets forget, and
  * a replayed run is a counted no-op everywhere. */
class PurgeJobSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(p: java.nio.file.Path) =
    new Path(p.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("one run purges snapshot, index, and retained versions; replay no-ops") {
    val base = java.nio.file.Files.createTempDirectory("graft_purgejob_")
    try {
      val snap = s"$base/snap"
      val idx = s"$base/idx"
      val cat = s"$base/cat"
      val docs = (1L to 60L).map(i => (i, s"text $i"))
        .toDF("doc_id", "text")
        .select($"doc_id", $"text", md5($"text").as("content_hash"))
        .localCheckpoint(true)
      ManifestMergeSink.mergeIntoManifested(spark, snap,
        docs.select($"doc_id", $"text"), "doc_id", Seq("text"), nBuckets = 4)
      MergeQueries.dedupIngestManifested(spark, idx,
        docs.select($"content_hash", $"doc_id"), nBuckets = 4)
      VersionCatalog.commit(spark, cat, docs.select($"doc_id", $"text"))
      VersionCatalog.commit(spark, cat,
        docs.filter($"doc_id" <= 50L).select($"doc_id", $"text"))

      val request = docs.filter($"doc_id" % 10L === 0L)
        .select($"doc_id", $"content_hash")
      val cfg = PurgeJob.PurgeConfig.fromFlags(Seq(
        "--key", "doc_id", "--snapshot", snap, "--index", idx,
        "--catalog", cat))
      val s = PurgeJob.run(spark, request, cfg)
      assert(s.snapshotPurged.contains(6L) && s.indexPurged.contains(6L),
        s"$s")
      assert(s.catalogPurged == Seq(1L -> 6L, 2L -> 5L), s"$s")
      val expect = (1L to 60L).filter(_ % 10 != 0).toSet
      assert(ManifestMergeSink.readManifested(spark, snap)
        .select($"doc_id").as[Long].collect().toSet == expect)
      assert(ManifestMergeSink.readManifested(spark, idx)
        .select($"doc_id").as[Long].collect().toSet == expect)
      assert(VersionCatalog.readVersion(spark, cat, 2L)
        .select($"doc_id").as[Long].collect().toSet ==
        (1L to 50L).filter(_ % 10 != 0).toSet)
      // the whole run replays as a no-op (the q178 at-least-once posture)
      val again = PurgeJob.run(spark, request, cfg)
      assert(again.snapshotPurged.contains(0L) &&
        again.indexPurged.contains(0L) &&
        again.catalogPurged == Seq(1L -> 0L, 2L -> 0L), s"$again")
    } finally fsOf(base).delete(new Path(base.toString), true)
  }

  test("flag parsing is strict; an index purge requires the hash column") {
    intercept[IllegalArgumentException] {
      PurgeJob.PurgeConfig.fromFlags(Seq("--bogus"))
    }
    intercept[IllegalArgumentException] {
      PurgeJob.PurgeConfig.fromFlags(Seq("--key", "doc_id")) // no target
    }
    intercept[IllegalArgumentException] { // the count comes from the head
      PurgeJob.PurgeConfig.fromFlags(Seq("--snapshot", "s", "--n-buckets", "4"))
    }
    val base = java.nio.file.Files.createTempDirectory("graft_purgejob2_")
    try {
      val idx = s"$base/idx"
      MergeQueries.dedupIngestManifested(spark, idx,
        Seq(("h", 1L)).toDF("content_hash", "doc_id"), nBuckets = 2)
      intercept[IllegalArgumentException] {
        PurgeJob.run(spark, Seq(1L).toDF("doc_id"),
          PurgeJob.PurgeConfig(index = Some(idx)))
      }
    } finally fsOf(base).delete(new Path(base.toString), true)
  }
}
