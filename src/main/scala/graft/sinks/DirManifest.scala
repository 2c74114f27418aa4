package graft.sinks

import graft.Parquets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** COMMIT-LOG-BACKED PARTITION MANIFEST — the generic form of
  * [[ManifestMergeSink]]'s layout for stores whose unit of rewrite is a
  * PARTITION-VALUE DIRECTORY rather than a hash bucket: the IVF index's
  * `list_id=` lists ([[graft.operators.Ivf]]) and the z-order layout's
  * `file_id=` cells ([[graft.operators.Sharding]]). Both previously
  * published through directory renames (atomic per dir, NOT across
  * dirs, meaningless on an object store, last-writer-wins under
  * concurrency — the [[MergeSink.atomicSwap]] trade); here the same
  * bounded data plane publishes through the [[CommitLog]]:
  *
  *  - `$root/g-<tok>/<part>=<v>/` immutable parquet dirs — every write
  *    lands as a new generation; nothing ever moves;
  *  - `$root/_commits/<seq>` commit files carrying the FULL state: the
  *    partition-value → data-dir mapping (one value may map to SEVERAL
  *    dirs — appends accumulate; rewrites collapse) plus a small
  *    extra-pointer map (e.g. the IVF drift baseline's dir), so
  *    derived state flips atomically WITH the data it derives from.
  *
  * A mutation: read head; write its dirs under one new generation;
  * publish ONE commit-file create repointing exactly the touched
  * partition values. The commit flips every touched dir (and every
  * extra pointer) at once — there is no window where readers see a
  * half-rewritten layout, the window every per-directory rename swap
  * honestly documented. Contention: the CAS hands the loser a loud
  * [[CommitLog.CommitConflictException]]; callers re-derive against
  * the new head and retry (each caller owns its reconciliation rule).
  * Crashes: a die before the commit create leaves invisible orphan
  * generations ([[vacuum]] sweeps them; the re-run converges); the
  * commit file itself is the [[CommitLog]]'s problem.
  *
  * Reads reconstruct the partition column through per-generation
  * `basePath` partition discovery, pruned at the METADATA level: a
  * probe for partitions P lists and reads only P's mapped dirs — the
  * mapping is the partition filter, applied before Spark ever lists a
  * file.
  *
  * Scale: commit files are O(partitions × generations-since-compaction)
  * tiny lines; per-mutation IO ∝ touched-partition bytes; publish is
  * one small object write however many dirs changed. */
object DirManifest {

  /** Full manifest state: partition value → its data dirs (root-relative,
    * newest last), plus named extra pointers (root-relative dirs whose
    * lifecycle rides the same commits). */
  final case class DmState(parts: Map[Long, Seq[String]],
                           extra: Map[String, String] = Map.empty)

  private val Header = "graft-dirmanifest-v1"
  private val End = "END"

  private[graft] def isValid(content: String): Boolean = {
    val ls = content.linesIterator.toSeq
    ls.headOption.contains(Header) && ls.lastOption.contains(End) &&
      ls.drop(1).dropRight(1).forall { l =>
        l.split('\t') match {
          case Array("P", p, d) => p.toLongOption.isDefined && d.nonEmpty
          case Array("X", k, v) => k.nonEmpty && v.nonEmpty
          case _ => false
        }
      }
  }

  private def render(st: DmState): String =
    (Header +:
      (st.parts.toSeq.sortBy(_._1).flatMap { case (p, dirs) =>
        dirs.map(d => s"P\t$p\t$d")
      } ++ st.extra.toSeq.sortBy(_._1).map { case (k, v) => s"X\t$k\t$v" }) :+
      End).mkString("\n")

  private def parse(content: String): DmState = {
    val body = content.linesIterator.toSeq.drop(1).dropRight(1)
    val parts = body.collect { case l if l.startsWith("P\t") =>
      val Array(_, p, d) = l.split('\t'); (p.toLong, d)
    }
    val extra = body.collect { case l if l.startsWith("X\t") =>
      val Array(_, k, v) = l.split('\t'); k -> v
    }.toMap
    DmState(
      parts.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap, extra)
  }

  /** The committed head, or None before the first commit. */
  def head(fs: FileSystem, root: Path): Option[(Long, DmState)] =
    CommitLog.head(fs, root, isValid)
      .map { case (seq, c) => (seq, parse(c)) }

  /** CAS-publish `st` on top of `expectedHead` (0 = empty log); throws
    * [[CommitLog.CommitConflictException]] when another writer won —
    * re-derive against the new head and retry. */
  def commitCas(fs: FileSystem, root: Path, expectedHead: Long,
                st: DmState): Long =
    CommitLog.tryAppend(fs, root, expectedHead, render(st), isValid)

  /** Read the given partitions' dirs (all of `st` when `parts` is None)
    * with the partition column reconstructed via per-generation
    * `basePath` discovery. Pruning is metadata-level: unselected
    * partitions' dirs are never listed. Throws on an empty selection —
    * callers decide what an absent partition means. */
  def read(spark: SparkSession, root: String, st: DmState,
           parts: Option[Seq[Long]] = None): DataFrame = {
    val sel = parts match {
      case Some(ps) => val want = ps.toSet; st.parts.filter(kv => want(kv._1))
      case None => st.parts
    }
    val dirs = sel.values.flatten.toSeq.distinct.sorted
    require(dirs.nonEmpty,
      s"no mapped dirs for partitions ${parts.getOrElse(Seq("<all>"))} at $root")
    val byGen = dirs.groupBy(_.split('/').head).toSeq.sortBy(_._1)
    // Later generations are pinned to the first generation's schema:
    // that is the agreement guard. The union's schema comes from one
    // footer by construction; a later generation is decoded against it,
    // never re-inferred, so a generation the scan cannot convert fails
    // the read instead of widening the union.
    val (g0, ds0) = byGen.head
    val first = Parquets.read(spark, ds0.map(d => s"$root/$d"),
      Map("basePath" -> s"$root/$g0"))
    byGen.tail.map { case (gen, ds) =>
      spark.read.option("basePath", s"$root/$gen").schema(first.schema)
        .parquet(ds.map(d => s"$root/$d"): _*)
    }.foldLeft(first)(_ unionByName _)
  }

  /** The partition-value subdirectories a write produced under
    * `$root/$gen` (e.g. `list_id=3`), as (value, dirName). */
  def writtenParts(fs: FileSystem, root: Path, gen: String,
                   partCol: String): Seq[(Long, String)] = {
    val g = new Path(root, gen)
    if (!fs.exists(g)) Seq.empty
    else fs.listStatus(g)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .map { st =>
        val name = st.getPath.getName
        (name.stripPrefix(s"$partCol=").toLong, s"$gen/$name")
      }.toSeq.sortBy(_._1)
  }

  /** Sweep generation/pointer dirs no RETAINED commit references and
    * fully-superseded commit files — `retainCommits` is the
    * reader-retention margin (a reader that resolved a recent head
    * finishes its scan across a concurrent mutation + vacuum). Requires
    * quiesced WRITERS (an in-flight writer's generation looks
    * orphaned; its publish then re-derives). Returns deleted dir names.
    * `minAgeMs` guards CONCURRENT writers: a dir younger than it is
    * never deleted even when no commit references it — a racing
    * writer's generation between its write and its publish looks
    * exactly like an orphan, and sweeping it turns the writer's
    * subsequent commit into dangling pointers. 0 keeps the strict
    * quiesced-writers contract; callers that vacuum beside possibly
    * racing writers (CurateJob's per-run sweep) pass a grace covering
    * any plausible write-to-publish window. Age is judged by the
    * newest FILE under the candidate dir, not the directory entry:
    * object stores (S3A) synthesize directory listings and commonly
    * report dir mtime 0, which would make every unreferenced dir look
    * ancient and silently defeat the grace on exactly the deployments
    * the commit-log layout targets. An empty candidate falls back to
    * the dir status mtime (local-FS semantics; nothing to lose). */
  def vacuum(spark: SparkSession, root: String,
             retainCommits: Int = 2,
             dirPrefixes: Seq[String] = Seq("g-", "m-"),
             minAgeMs: Long = 0L): Seq[String] = {
    require(retainCommits >= 1, s"retainCommits=$retainCommits")
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    head(fs, rootP) match {
      case None => Seq.empty
      case Some((seq, _)) =>
        val keepFrom = seq - (retainCommits - 1)
        val retained = CommitLog.seqs(fs, rootP)
          .filter(_ >= keepFrom)
          .flatMap(s => CommitLog.read(fs, rootP, s).filter(isValid))
          .map(parse)
        // liveness is by TOP-LEVEL dir: extra pointers may reference a
        // path INSIDE a generation (CurateJob points at `g-x/report`),
        // and the generation dir is what vacuum deletes
        val live = retained.flatMap(st =>
          (st.parts.values.flatten ++ st.extra.values)
            .map(_.split('/').head))
          .toSet
        val now = System.currentTimeMillis()
        // newest-file mtime under a candidate (see the doc above) —
        // walked ONLY for non-live prefix-matched dirs and only when a
        // grace is in force, so the extra listings are O(victims)
        def newestFileMtime(dir: Path): Long = {
          def walk(p: Path): Long = {
            val sts =
              try fs.listStatus(p)
              catch { case _: java.io.IOException =>
                Array.empty[org.apache.hadoop.fs.FileStatus] }
            sts.foldLeft(0L) { (m, st) =>
              math.max(m, if (st.isDirectory) walk(st.getPath)
                          else st.getModificationTime)
            }
          }
          val m = walk(dir)
          if (m > 0L) m
          else
            try fs.getFileStatus(dir).getModificationTime
            catch { case _: java.io.IOException => 0L }
        }
        val victims =
          if (!fs.exists(rootP)) Seq.empty
          else fs.listStatus(rootP)
            .filter(st => st.isDirectory &&
              dirPrefixes.exists(st.getPath.getName.startsWith))
            .map(_.getPath.getName)
            .filterNot(live)
            .filter(d => minAgeMs <= 0L ||
              now - newestFileMtime(new Path(rootP, d)) > minAgeMs)
            .toSeq.sorted
        victims.foreach(d => fs.delete(new Path(rootP, d), true))
        CommitLog.sweep(fs, rootP, keepFrom)
        victims
    }
  }
}
