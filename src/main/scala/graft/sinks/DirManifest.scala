package graft.sinks

import graft.Parquets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, pmod, xxhash64}

/** COMMIT-LOG-BACKED PARTITION MANIFEST — the generic form of
  * [[ManifestMergeSink]]'s layout for stores whose unit of rewrite is a
  * PARTITION-VALUE DIRECTORY rather than a hash bucket: the IVF index's
  * `list_id=` lists ([[graft.operators.Ivf]]), the z-order layout's
  * `file_id=` cells ([[graft.operators.Sharding]]) and q80's `pb=`
  * arrival cells; it also owns the engine's one compaction
  * ([[compact]]). A per-directory delete+rename publish is atomic per
  * dir, NOT across dirs, meaningless on an object store, and loses rows
  * on a crash between the delete and the rename; here the same bounded
  * data plane publishes through the [[CommitLog]]:
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

  /** The committed head; throws when nothing is committed at `root`. */
  def requireHead(fs: FileSystem, root: Path): (Long, DmState) =
    head(fs, root).getOrElse(throw new IllegalArgumentException(
      s"no committed manifest at $root"))

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
      Parquets.withSchema(spark, first.schema, ds.map(d => s"$root/$d"),
        Map("basePath" -> s"$root/$gen"))
    }.foldLeft(first)(_ unionByName _)
  }

  /** [[read]]'s frame with no rows, from one listing of one dir: the
    * first mapped dir, whose generation's first footer is the one that
    * pins [[read]]'s schema. An empty selection's frame without a listing
    * of every cell. */
  def emptyRead(spark: SparkSession, root: String, st: DmState): DataFrame = {
    val dirs = st.parts.values.flatten
    require(dirs.nonEmpty, s"no mapped dirs at $root")
    val first = dirs.min
    Parquets.read(spark, Seq(s"$root/$first"),
      Map("basePath" -> s"$root/${first.split('/').head}")).filter(lit(false))
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

  private def newGen(): String =
    s"g-${java.util.UUID.randomUUID().toString.take(8)}"

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `df` as ONE new generation partitioned by `partCol`, then
    * CAS-publish it: `append` adds each written dir to its value's dir
    * list on top of the head (appends accumulate; extra pointers carry
    * over), otherwise the written dirs replace the whole mapping. The
    * caller arranges the rows (distribution, in-cell order). A conflict
    * re-reads the head and re-publishes — the generation is written
    * once; after `maxRetries` conflicts the generation is deleted and
    * the conflict rethrown. Returns the written (value, dir) pairs. */
  def writeCommit(df: DataFrame, root: String, partCol: String,
                  append: Boolean,
                  maxRetries: Int = 20): Seq[(Long, String)] = {
    val rootP = new Path(root)
    val fs = fsOf(df.sparkSession, rootP)
    val gen = newGen()
    df.write.mode("overwrite").partitionBy(partCol).parquet(s"$root/$gen")
    val written = writtenParts(fs, rootP, gen, partCol)
    var attempt = 0
    while (true) {
      val h = head(fs, rootP)
      val base =
        if (append) h.map(_._2).getOrElse(DmState(Map.empty))
        else DmState(Map.empty)
      val parts = base.parts ++ written.map { case (v, d) =>
        v -> (base.parts.getOrElse(v, Seq.empty) :+ d)
      }
      try {
        commitCas(fs, rootP, h.map(_._1).getOrElse(0L),
          DmState(parts, base.extra))
        return written
      } catch {
        case e: CommitLog.CommitConflictException =>
          attempt += 1
          if (attempt >= maxRetries) {
            fs.delete(new Path(rootP, gen), true)
            throw e
          }
      }
    }
    written // unreachable
  }

  /** What a [[compact]] pass did: the partition values it rewrote and
    * the data-file count across every mapped dir before and after. */
  final case class CompactStats(compacted: Seq[Long], filesBefore: Long,
                                filesAfter: Long)

  /** COMPACT the append history: every partition value whose mapped dirs
    * hold more data files than its byte-derived target
    * (`ceil(bytes / targetBytes)`, min 1) is read (mapping-pruned),
    * rewritten at the target count into one new dir, and repointed in
    * ONE commit; values already at their target keep their exact dirs
    * (byte-identical — CompactionSpec pins it). Appends add a dir per
    * batch per touched value (IVF [[graft.operators.Ivf.ingest]], q80's
    * arrival batches), so this is the maintenance pass that keeps
    * per-probe file counts flat under years of batches — rename-free
    * and atomic across every compacted value. A conflict deletes the
    * losing generation and re-derives against the new head. The
    * reference never compacts: it leaves one file per batch (SURVEY
    * §2A item 3). */
  def compact(spark: SparkSession, root: String, partCol: String,
              targetBytes: Long, maxRetries: Int = 20): CompactStats = {
    require(targetBytes > 0, s"targetBytes=$targetBytes must be positive")
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    def targetOf(bytes: Long) = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    var attempt = 0
    while (true) {
      val (seq, st) = requireHead(fs, rootP)
      def filesOf(dirs: Seq[String]) = dirs.flatMap { d =>
        val p = new Path(rootP, d)
        if (!fs.exists(p)) Seq.empty
        else fs.listStatus(p).filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.toSeq
      }
      val stats = st.parts.map { case (v, dirs) =>
        val fls = filesOf(dirs)
        v -> (fls.length.toLong, fls.map(_.getLen).sum)
      }
      val before = stats.values.map(_._1).sum
      val flagged = stats.collect {
        case (v, (nf, bytes)) if nf > targetOf(bytes) => v
      }.toSeq.sorted
      if (flagged.isEmpty) return CompactStats(Seq.empty, before, before)
      val gen = newGen()
      // ONE read + ONE partitionBy write for every flagged value (a
      // per-value read/repartition/write loop paid a schema job, an
      // exchange job and a write job PER VALUE — ~3 jobs × 47 lists
      // measured on q213). Each flagged value owns `target` consecutive
      // shuffle partitions starting at its offset; a row lands in slot
      // `xxhash64(row) mod target` of its value (deterministic from the
      // content — never rand() under retries), and the partition id is
      // taken as given (no AQE coalescing, no hash collisions), so no
      // two slots share a task: a value lands in one file per non-empty
      // slot, never more than its target.
      val ss = spark; import ss.implicits._
      val targets = flagged.map(v => targetOf(stats(v)._2))
      val offsets = targets.scanLeft(0L)(_ + _)
      val slotsOf = flagged.indices
        .map(i => (flagged(i), targets(i), offsets(i)))
        .toDF(partCol, "__slots", "__offset")
      val data = read(spark, root, st, Some(flagged))
      data.join(broadcast(slotsOf), Seq(partCol))
        .withColumn("__pid", (col("__offset") +
          pmod(xxhash64(data.columns.map(col): _*), col("__slots"))).cast("int"))
        .repartitionById(offsets.last.toInt, col("__pid"))
        .drop("__pid", "__slots", "__offset")
        .write.mode("overwrite").partitionBy(partCol)
        .parquet(s"$root/$gen")
      val newParts = st.parts ++
        flagged.map(v => v -> Seq(s"$gen/$partCol=$v"))
      try {
        commitCas(fs, rootP, seq, DmState(newParts, st.extra))
        val after = newParts.values.map(filesOf(_).length.toLong).sum
        return CompactStats(flagged, before, after)
      } catch {
        case e: CommitLog.CommitConflictException =>
          fs.delete(new Path(rootP, gen), true)
          attempt += 1
          if (attempt >= maxRetries) throw e
      }
    }
    CompactStats(Seq.empty, 0L, 0L) // unreachable
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
