package graft.sinks

import graft.Parquets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for partitioned parquet snapshots — the
  * maintenance pass every incremental-ingest layout eventually needs:
  * a partitioned layout whose writes touch a few directories per batch
  * (q80's dated appends, the z-order layout) accretes files, so a
  * snapshot that absorbs N nightly batches accretes O(N) files per
  * partition directory. At 100 TB that is the classic small-file
  * problem: scan parallelism is fine (Spark coalesces splits), but
  * per-file open/footer costs, NameNode/listing pressure, and row-group
  * fragmentation all degrade with file count.
  *
  * LEGACY-LAYOUT TOOL: this pass serves the plain partitioned
  * directory layouts (its per-directory swap is atomic per dir, not
  * across dirs, and rename-dependent). Commit-log stores compact natively and
  * rename-free instead — [[graft.operators.Ivf.compactIndex]] for the
  * IVF index, a merge for [[ManifestMergeSink]] (each merge already
  * rewrites its touched buckets whole, so that layout never accretes
  * files) — publishing ONE commit across every compacted directory.
  *
  * Scale design: compaction is per-PARTITION-DIRECTORY and skip-aware —
  * each `part=` directory whose file count exceeds its byte-derived
  * target (`ceil(bytes / targetBytes)`, min 1) is read, rewritten at
  * the target file count, and swapped in with a per-directory
  * [[MergeSink.atomicSwap]] rename; directories already
  * at their target are NOT touched (byte-identical afterwards — pinned
  * in CompactionSpec). Only fragmented directories pay I/O, the swap is
  * metadata-only renames with rollback (never a partially-written
  * directory). The directory listing is driver-side metadata (≤ #partitions
  * entries — the same budget as the touched-bucket probe in the merge
  * path). Reference analog: the reference's ETL never compacts — it
  * leaves one file per batch (SURVEY §2A item 3); this is the operation
  * that keeps that layout healthy under years of batches.
  */
object Compaction {

  /** What a compaction pass did: directories rewritten / skipped, and
    * data file counts across all partition directories before/after. */
  final case class CompactStats(nCompacted: Long, nSkipped: Long,
                                filesBefore: Long, filesAfter: Long)

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        dir: Path): Array[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Compact every `<col>=<value>` partition directory under `path`
    * down to `ceil(dirBytes / targetBytes)` files (min 1). Returns the
    * pass's stats. Directories already at/below their target are left
    * untouched. */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetBytes: Long): CompactStats = {
    require(targetBytes > 0, s"targetBytes=$targetBytes must be positive")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partDirs = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    var (nCompacted, nSkipped, before, after) = (0L, 0L, 0L, 0L)
    partDirs.foreach { dirSt =>
      val dir = dirSt.getPath
      val files = dataFiles(fs, dir)
      val bytes = files.map(_.getLen).sum
      val desired = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      before += files.length
      if (files.length > desired) {
        // read THIS directory only (no partition discovery — the dir's
        // data files carry the full payload schema), rewrite at the
        // target count, then swap the directory in one rename
        val tmp = new Path(dir.getParent, dir.getName + ".__compact_tmp")
        fs.delete(tmp, true)
        Parquets.read(spark, dir.toString)
          .repartition(desired)
          .write.mode("overwrite").parquet(tmp.toString)
        // drop the marker so the swapped dir holds data files only
        fs.delete(new Path(tmp, "_SUCCESS"), false)
        // two-rename swap with rollback (MergeSink's snapshot discipline):
        // the directory is complete-old or complete-new, never partial
        val bak = new Path(dir.getParent, dir.getName + ".__compact_bak")
        fs.delete(bak, true)
        MergeSink.atomicSwap(fs, tmp, dir, bak)
        nCompacted += 1
        after += dataFiles(fs, dir).length
      } else {
        nSkipped += 1
        after += files.length
      }
    }
    CompactStats(nCompacted, nSkipped, before, after)
  }
}
