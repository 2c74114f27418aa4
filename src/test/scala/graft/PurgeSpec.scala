package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import graft.sinks.ManifestMergeSink
import graft.sinks.ManifestMergeSink.PurgeStats

/** Pins for the key purge beyond the q176 oracle gate: the IO contract
  * (untouched buckets byte-identical, the scan lists only the touched
  * buckets' dirs), emptied-bucket removal, absent-key idempotence, and
  * exact stats. */
class PurgeSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(p: java.nio.file.Path) =
    new Path(p.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mapping(snap: String): Map[Long, String] =
    ManifestMergeSink.headState(spark, snap).get._2.mapping

  /** (file name, length, mtime) of every data file under a bucket dir. */
  private def files(snap: String, dir: String) = {
    val p = new Path(snap, dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(st =>
      (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
  }

  private def bucketsOf(keys: Seq[Long], n: Int): Set[Long] =
    keys.toDF("id").select(pmod(xxhash64($"id"), lit(n.toLong))).as[Long]
      .collect().toSet

  test("purge rewrites only touched buckets; untouched files byte-identical") {
    val base = java.nio.file.Files.createTempDirectory("graft_purge1_")
    try {
      val snap = s"$base/snap"
      val rows = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "payload")
      ManifestMergeSink.mergeIntoManifested(spark, snap, rows, "id",
        Seq("payload"), nBuckets = 8)
      val before = mapping(snap)
      val beforeFiles = before.map { case (b, d) => b -> files(snap, d) }
      // purge 5 keys — they hash to a strict subset of the 8 buckets
      val keys = Seq(3L, 7L, 11L, 19L, 23L)
      val touchedPb = bucketsOf(keys, 8)
      assert(touchedPb.size < 8, s"fixture must leave untouched buckets")
      val st = ManifestMergeSink.purgeManifested(spark, snap, keys.toDF("id"), "id")
      assert(st.nPurged == 5 && st.nBucketsTouched == touchedPb.size, s"$st")
      val after = mapping(snap)
      before.keySet.filterNot(touchedPb).foreach { b =>
        assert(after.get(b).contains(before(b)), s"untouched bucket $b repointed")
        assert(files(snap, after(b)) == beforeFiles(b), s"untouched bucket $b changed")
      }
      touchedPb.foreach(b => assert(after(b) != before(b), s"bucket $b not rewritten"))
      // content: exactly the purged keys are gone
      val got = ManifestMergeSink.readManifested(spark, snap)
        .select($"id").as[Long].collect().toSet
      assert(got == (1L to 200L).toSet -- keys)
    } finally fsOf(base).delete(new Path(base.toString), true)
  }

  test("the purge read is plan-time directory pruning, not a filtered full scan") {
    val base = java.nio.file.Files.createTempDirectory("graft_purge4_")
    try {
      val snap = s"$base/snap"
      ManifestMergeSink.mergeIntoManifested(spark, snap,
        (1L to 100L).map(i => (i, s"v$i")).toDF("id", "payload"),
        "id", Seq("payload"), nBuckets = 8)
      val dirs = mapping(snap)
      assert(dirs.size == 8, s"seed must populate every bucket: $dirs")
      val keys = Seq(3L, 7L)
      val touched = bucketsOf(keys, 8)
      // every plan the purge executes, as the SQL listener receives it
      val plans = ArrayBuffer.empty[SparkPlanInfo]
      val sc = spark.sparkContext
      ListenerBridge.waitUntilEmpty(sc)
      val l = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => plans.synchronized(plans += s.sparkPlanInfo)
          case u: SparkListenerSQLAdaptiveExecutionUpdate =>
            plans.synchronized(plans += u.sparkPlanInfo)
          case _ =>
        }
      }
      sc.addSparkListener(l)
      try {
        ManifestMergeSink.purgeManifested(spark, snap, keys.toDF("id"), "id")
        ListenerBridge.waitUntilEmpty(sc)
      } finally sc.removeSparkListener(l)
      def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
      // the snapshot's scans: a file index rooted under the snapshot
      val locations = plans.toSeq.flatMap(nodes).flatMap(_.metadata.get("Location"))
        .filter(_.contains(snap)).distinct
      assert(locations.nonEmpty, s"the purge must scan the snapshot: $plans")
      val PathCount = """\((\d+) paths?\)""".r.unanchored
      locations.foreach { loc =>
        loc match {
          case PathCount(n) => assert(n.toInt == touched.size,
            s"scan must list exactly the touched bucket dirs ($touched): $loc")
          case _ => fail(s"no path count in the scan location: $loc")
        }
        // every path it names is a touched bucket's dir
        dirs.filterNot { case (b, _) => touched(b) }.values.foreach(d =>
          assert(!loc.contains(s"$snap/$d"), s"untouched dir $d scanned: $loc"))
      }
    } finally fsOf(base).delete(new Path(base.toString), true)
  }

  test("purging absent keys is a content no-op; empty purge set touches nothing") {
    val base = java.nio.file.Files.createTempDirectory("graft_purge2_")
    try {
      val snap = s"$base/snap"
      ManifestMergeSink.mergeIntoManifested(spark,
        snap, (1L to 50L).map(i => (i, i * 10L)).toDF("id", "v"),
        "id", Seq("v"), nBuckets = 4)
      val st = ManifestMergeSink.purgeManifested(spark, snap,
        Seq(999L, 1000L).toDF("id"), "id")
      assert(st.nPurged == 0, s"$st")
      val got = ManifestMergeSink.readManifested(spark, snap)
        .select($"id", $"v").as[(Long, Long)].collect().toSet
      assert(got == (1L to 50L).map(i => (i, i * 10L)).toSet)
      val seqs = ManifestMergeSink.commitSeqs(spark, snap)
      val empty = ManifestMergeSink.purgeManifested(spark, snap,
        spark.emptyDataset[Long].toDF("id"), "id")
      assert(empty == PurgeStats(0L, 0L, 0))
      assert(ManifestMergeSink.commitSeqs(spark, snap) == seqs,
        "an empty purge set must not commit")
    } finally fsOf(base).delete(new Path(base.toString), true)
  }

  test("a bucket emptied by the purge disappears; reads stay row-correct") {
    val base = java.nio.file.Files.createTempDirectory("graft_purge3_")
    try {
      val snap = s"$base/snap"
      val rows = (1L to 64L).map(i => (i, s"p$i")).toDF("id", "payload")
      ManifestMergeSink.mergeIntoManifested(spark, snap, rows, "id",
        Seq("payload"), nBuckets = 4)
      // purge EVERY key of one bucket (and nothing else)
      val bucketOf = rows.select($"id",
        pmod(xxhash64($"id"), lit(4L)).as("pb")).as[(Long, Long)].collect()
      val victim = bucketOf.head._2
      val doomedIds = bucketOf.filter(_._2 == victim).map(_._1)
      val st = ManifestMergeSink.purgeManifested(spark, snap,
        doomedIds.toSeq.toDF("id"), "id")
      assert(st.nPurged == doomedIds.length && st.nBucketsTouched == 1, s"$st")
      assert(!mapping(snap).contains(victim),
        "fully-purged bucket must leave the mapping")
      val got = ManifestMergeSink.readManifested(spark, snap)
        .select($"id").as[Long].collect().toSet
      assert(got == (1L to 64L).toSet -- doomedIds)
    } finally fsOf(base).delete(new Path(base.toString), true)
  }
}
