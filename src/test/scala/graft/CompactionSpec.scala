package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sinks.{CommitLog, DirManifest}

/** [[DirManifest.compact]] over `pb` cells that accumulated one dir per
  * appended batch: content exact, one commit per pass that rewrites,
  * untouched cells keep their exact dirs and bytes, and the byte target
  * sets the per-cell file count. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Append each batch as one manifest generation into its `pb` cells. */
  private def appendBatches(path: String, batches: Seq[DataFrame]): Unit =
    batches.foreach(b => DirManifest.writeCommit(b, path, "pb", append = true))

  private def mapping(path: String): Map[Long, Seq[String]] =
    DirManifest.requireHead(fs, new Path(path))._2.parts

  private def commits(path: String): Int = CommitLog.seqs(fs, new Path(path)).size

  /** The data files of one cell across its mapped dirs. */
  private def cellFiles(path: String, v: Long): Seq[org.apache.hadoop.fs.FileStatus] =
    mapping(path)(v).flatMap { d =>
      fs.listStatus(new Path(s"$path/$d")).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }

  /** (path, length, md5-of-bytes) per data file of one cell. */
  private def cellBytes(path: String, v: Long): Set[(String, Long, String)] =
    cellFiles(path, v).map { st =>
      val in = fs.open(st.getPath)
      val buf = new Array[Byte](st.getLen.toInt)
      try in.readFully(0, buf) finally in.close()
      val dig = java.security.MessageDigest.getInstance("MD5").digest(buf)
      (st.getPath.toString, st.getLen, dig.map("%02x".format(_)).mkString)
    }.toSet

  private def content(path: String): Set[org.apache.spark.sql.Row] =
    DirManifest.read(spark, path, DirManifest.requireHead(fs, new Path(path))._2)
      .select(col("id"), col("v"), col("pb").cast("long")).collect().toSet

  test("fragmented dirs compact to their byte target, content preserved exactly") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact_spec_")
    val path = s"$base/snap"
    try {
      val rows = (1L to 1000L).map(i => (i, s"payload-$i")).toDF("id", "v")
        .withColumn("pb", pmod(col("id"), lit(2L)))
      appendBatches(path, (0L until 6L).map(b =>
        rows.filter(pmod(col("id"), lit(6L)) === b)))
      val beforeFiles = cellFiles(path, 0L).length
      val beforeFiles1 = cellFiles(path, 1L).length
      assert(mapping(path)(0L).size == 3, "pb=0 must hold one dir per batch")
      assert(beforeFiles >= 6, s"fixture must be fragmented, got $beforeFiles files")
      val beforeContent = content(path)
      val commitsBefore = commits(path)

      val stats = DirManifest.compact(spark, path, "pb", targetBytes = 64L << 20)
      assert(stats.compacted == Seq(0L, 1L))
      assert(stats.filesBefore == beforeFiles + beforeFiles1)
      assert(stats.filesAfter == 2)
      assert(commits(path) == commitsBefore + 1, "one commit publishes the pass")
      Seq(0L, 1L).foreach { v =>
        assert(mapping(path)(v).size == 1, s"pb=$v must collapse to one dir")
        assert(cellFiles(path, v).length == 1, s"pb=$v must hold one file")
      }
      assert(content(path) == beforeContent)
    } finally fs.delete(new Path(base.toString), true)
  }

  test("a second pass is a no-op and skipped dirs stay byte-identical") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact_spec2_")
    val path = s"$base/snap"
    try {
      val rows = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v")
        .withColumn("pb", pmod(col("id"), lit(2L)))
      appendBatches(path, (0L until 4L).map(b =>
        rows.filter(pmod(col("id"), lit(4L)) === b)))
      val c0 = commits(path)
      val first = DirManifest.compact(spark, path, "pb", targetBytes = 64L << 20)
      assert(first.compacted.size == 2)
      assert(commits(path) == c0 + 1, "one commit per pass")
      val map1 = mapping(path)
      val sig = cellBytes(path, 0L)

      // a healthy layout: nothing flagged, no commit, nothing rewritten
      val second = DirManifest.compact(spark, path, "pb", targetBytes = 64L << 20)
      assert(second.compacted.isEmpty && second.filesAfter == second.filesBefore)
      assert(commits(path) == c0 + 1, "a no-op pass must not commit")
      assert(mapping(path) == map1)
      assert(cellBytes(path, 0L) == sig, "skipped cell must be untouched, not rewritten")

      // a new batch fragments pb=1 only: the pass rewrites pb=1 in one
      // commit and pb=0 keeps its exact dirs and file bytes
      appendBatches(path, Seq((401L to 420L).map(i => (i, s"v$i")).toDF("id", "v")
        .withColumn("pb", lit(1L))))
      val c1 = commits(path)
      val third = DirManifest.compact(spark, path, "pb", targetBytes = 64L << 20)
      assert(third.compacted == Seq(1L), s"$third")
      assert(commits(path) == c1 + 1, "one commit per pass")
      assert(mapping(path)(0L) == map1(0L), "skipped cell must keep its exact dirs")
      assert(cellBytes(path, 0L) == sig, "skipped cell must stay byte-identical")
      assert(content(path).size == 420)
    } finally fs.delete(new Path(base.toString), true)
  }

  test("a small byte target splits a directory into multiple files") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact_spec3_")
    val path = s"$base/snap"
    try {
      val rows = (1L to 2000L).map(i => (i, "x" * 100)).toDF("id", "v")
        .withColumn("pb", lit(0L))
      appendBatches(path, (0L until 8L).map(b =>
        rows.filter(pmod(col("id"), lit(8L)) === b)))
      val bytes = cellFiles(path, 0L).map(_.getLen).sum
      val target = bytes / 3 + 1 // desired = 3 files
      val c0 = commits(path)
      val stats = DirManifest.compact(spark, path, "pb", target)
      assert(stats.compacted == Seq(0L))
      assert(commits(path) == c0 + 1, "one commit per pass")
      assert(mapping(path)(0L).size == 1)
      assert(cellFiles(path, 0L).length == 3)
      assert(content(path).size == 2000)
    } finally fs.delete(new Path(base.toString), true)
  }
}
