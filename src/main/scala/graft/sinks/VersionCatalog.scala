package graft.sinks

import graft.Parquets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}

/** Snapshot VERSION CATALOG — named versions, time travel, purge across
  * history, and retention, published through the [[CommitLog]].
  *
  * [[MergeSink]] swaps snapshots in place and keeps exactly one `_bak`
  * that the next commit deletes, so "what did the corpus look like two
  * releases ago" is unanswerable from the snapshot alone. Real corpus
  * release management wants the lakehouse trio: commit a named version,
  * read version N later (time travel), and vacuum old versions under an
  * explicit retention window. The reference keeps no history either —
  * its Mongo collection is always the latest state
  * (src/func/mongo.py:103-163); this catalog is the release-management
  * layer a 100 TB corpus build runs ON TOP of the merge sink's nightly
  * snapshots.
  *
  * Layout — immutable objects only, ZERO renames on any path:
  *  - `$path/d-<tok>/` one immutable parquet dir per committed version
  *    (writer-unique token, so concurrent committers never collide on a
  *    data path);
  *  - `$path/_commits/<seq>` the [[CommitLog]]: each commit file holds
  *    the FULL (version → data dir) mapping after that commit. THE HEAD
  *    COMMIT FILE IS AUTHORITATIVE: a data dir it does not reference is
  *    an uncommitted orphan (a crashed or conflict-losing writer's
  *    residue) — readers never see it and [[vacuum]] sweeps it.
  *
  * CONCURRENT WRITERS (the multi-team nightly-jobs case): every
  * mutation publishes via [[CommitLog.tryAppend]]'s put-if-absent
  * create. [[commitCas]] is the explicit optimistic-concurrency form —
  * it takes the expected head seq and throws
  * [[CommitLog.CommitConflictException]] (retryable) when another
  * writer committed first; NO lost updates, ever, because exactly one
  * writer wins each commit slot. [[commit]] is the convenience
  * retry loop: its data dir is writer-unique, so losing the CAS costs a
  * metadata re-read and re-append, not a data rewrite.
  *
  * Crash-safety (the [[CommitLog]] discipline — data before metadata):
  *  - every mutation writes its new data dir(s) FIRST, then publishes
  *    with one commit-file create: a crash pre-publish leaves invisible
  *    orphans and the catalog on the previous commit;
  *  - a crash mid-write of a commit file leaves truncated residue that
  *    readers skip (the `END` sentinel fails) and the next writer
  *    reclaims;
  *  - [[vacuum]] retracts versions in a commit FIRST, then deletes
  *    their dirs: a crash between the two leaves unreadable orphan dirs
  *    (merely unreclaimed space), never a mapping row pointing at
  *    deleted data.
  *
  * Scale: commit files are O(versions) tiny rows of metadata; commit
  * adds one dir write (the snapshot the caller was materializing
  * anyway) plus one small file create; time travel is an ordinary
  * pruned parquet read of one version dir; vacuum is directory deletes.
  * Nothing here scales with corpus size.
  */
object VersionCatalog {

  /** One committed version and the immutable data dir (relative to the
    * catalog root) holding its rows. */
  final case class Entry(version: Long, dir: String)

  private val Header = "graft-catalog-v1"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isValid(content: String): Boolean =
    CommitLog.unframe(Header, content).exists(_.forall { l =>
      l.split('\t') match {
        case Array(v, d) => v.toLongOption.isDefined && d.nonEmpty
        case _ => false
      }
    })

  private[graft] def render(entries: Seq[Entry]): String =
    CommitLog.frame(Header,
      entries.sortBy(_.version).map(e => s"${e.version}\t${e.dir}"))

  private def parse(content: String): Seq[Entry] =
    CommitLog.unframe(Header, content).get.map { l =>
      val Array(v, d) = l.split('\t')
      Entry(v.toLong, d)
    }

  private def tok(): String = UUID.randomUUID().toString.take(8)

  /** The committed head: (commit seq, entries); (0, empty) before the
    * first commit. The seq is the CAS token [[commitCas]] takes. */
  def headState(spark: SparkSession, path: String): (Long, Seq[Entry]) = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    CommitLog.head(fs, root, isValid)
      .map { case (seq, c) => (seq, parse(c)) }
      .getOrElse((0L, Seq.empty))
  }

  /** Committed version numbers, ascending (empty before first commit). */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    headState(spark, path)._2.map(_.version).sorted

  /** The newest committed version, if any. */
  def latest(spark: SparkSession, path: String): Option[Long] =
    versions(spark, path).lastOption

  /** OPTIMISTIC-CONCURRENCY commit: publish `df` as the next version on
    * top of the head this writer READ (`expectedHead`, from
    * [[headState]]; 0 for "I saw an empty catalog"). If another writer
    * committed in between, throws [[CommitLog.CommitConflictException]]
    * — loudly and retryably; the loser's data dir is removed and NO
    * state changed. Returns the committed version number. */
  def commitCas(spark: SparkSession, path: String, df: DataFrame,
                expectedHead: Long): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val dir = s"d-${tok()}"
    df.write.mode("overwrite").parquet(new Path(root, dir).toString)
    CommitLog.onConflict(fs.delete(new Path(root, dir), true)) {
      commitDirCas(spark, path, dir, expectedHead)
    }
  }

  /** CAS-publish an ALREADY-WRITTEN data dir as the next version (the
    * retry path: data dirs are writer-unique, so a CAS loser re-appends
    * metadata without rewriting data). */
  private def commitDirCas(spark: SparkSession, path: String, dir: String,
                           expectedHead: Long): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val (seq, entries) = headState(spark, path)
    if (seq != expectedHead)
      throw new CommitLog.CommitConflictException(
        s"catalog at $path moved to commit $seq past expected " +
          s"$expectedHead — re-read and retry")
    val version = entries.map(_.version).maxOption.getOrElse(0L) + 1L
    CommitLog.tryAppend(fs, root, expectedHead,
      render(entries :+ Entry(version, dir)), isValid)
    version
  }

  /** Commit `df` as the next version; returns its number (1-based).
    * Retries the CAS on contention: the data dir is written ONCE under
    * a writer-unique name, each retry re-reads the head and re-appends
    * metadata only (re-writing data only if a concurrent vacuum swept
    * the dir as an orphan mid-flight). Data lands before the commit
    * file publishes it, so a crash anywhere leaves the catalog on the
    * previous commit. */
  def commit(spark: SparkSession, path: String, df: DataFrame): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    var dir = s"d-${tok()}"
    df.write.mode("overwrite").parquet(new Path(root, dir).toString)
    CommitLog.retrying {
      if (!fs.exists(new Path(root, dir))) {
        // a concurrent vacuum swept our in-flight dir as an orphan —
        // rewrite under a fresh token before publishing
        dir = s"d-${tok()}"
        df.write.mode("overwrite").parquet(new Path(root, dir).toString)
      }
      commitDirCas(spark, path, dir, headState(spark, path)._1)
    }
  }

  private def entryOf(spark: SparkSession, path: String, n: Long): Entry = {
    val es = headState(spark, path)._2
    es.find(_.version == n).getOrElse(throw new IllegalArgumentException(
      s"version $n is not in the catalog at $path (committed: " +
        s"${es.map(_.version).sorted.mkString(",")})"))
  }

  /** Time travel: the committed snapshot of version `n`, exactly as it
    * was written. Throws on a version the head commit does not carry
    * (never committed, or vacuumed). */
  def readVersion(spark: SparkSession, path: String, n: Long): DataFrame =
    Parquets.read(spark,
      new Path(new Path(path), entryOf(spark, path, n).dir).toString)

  /** PURGE ACROSS RETAINED VERSIONS — time travel must forget too: a
    * key purged only from the head snapshot is still readable at every
    * retained version, so a governed catalog rewrites ALL of them (the
    * reason Delta documents that DELETE alone does not satisfy GDPR
    * until VACUUM passes the retention window — this operator is the
    * eager form that keeps the history READABLE minus the keys).
    *
    * Copy-on-write through the commit log: every retained version's
    * survivors are written to a NEW immutable dir, then ONE CAS commit
    * repoints all purged versions atomically — readers see every
    * version pre-purge or every version post-purge, never a mix; a
    * crash pre-publish leaves orphan dirs and the un-purged catalog; a
    * conflicting writer forces a loud retry of the whole purge (the
    * data being purged may have changed under us — recomputing is the
    * only honest reconciliation). Old dirs are deleted only AFTER the
    * publish lands. Idempotent — a replayed purge rewrites identical
    * content. Cost: one pruned read + rewrite per RETAINED version —
    * bounded by the retention window, never by history length. Returns
    * (version, nPurged) per retained version. */
  def purge(spark: SparkSession, path: String, keys: DataFrame,
            key: String): Seq[(Long, Long)] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    // localCheckpoint: probed once per retained version
    val uniq = keys.select(col(key)).filter(col(key).isNotNull)
      .distinct().localCheckpoint(true)
    CommitLog.retrying {
      val (seq, entries) = headState(spark, path)
      // nothing committed: a no-op, not a first (empty) commit
      if (entries.isEmpty) Seq.empty
      else {
        val rewritten = entries.sortBy(_.version).map { e =>
          val obsBefore = Observation()
          val obsAfter = Observation()
          val kept = Parquets.read(spark, new Path(root, e.dir).toString)
            .observe(obsBefore, count(lit(1)).as("n"))
            .join(broadcast(uniq), Seq(key), "left_anti")
            .observe(obsAfter, count(lit(1)).as("n"))
          val newDir = s"d-${tok()}"
          kept.write.mode("overwrite")
            .parquet(new Path(root, newDir).toString)
          val nPurged = obsBefore.get("n").asInstanceOf[Long] -
            obsAfter.get("n").asInstanceOf[Long]
          (e, Entry(e.version, newDir), nPurged)
        }
        CommitLog.onConflict(rewritten.foreach { case (_, nw, _) =>
          fs.delete(new Path(root, nw.dir), true) // losing rewrite
        }) {
          CommitLog.tryAppend(fs, root, seq, render(rewritten.map(_._2)),
            isValid)
        }
        rewritten.foreach { case (old, _, _) =>
          fs.delete(new Path(root, old.dir), true)
        }
        rewritten.map { case (old, _, n) => old.version -> n }
      }
    }
  }

  /** Drop every version except the newest `retainLast`, plus any orphan
    * `d-` data dir the head commit does not reference (crashed or
    * conflict-losing writers' residue) and fully-superseded commit
    * files. The retraction publishes FIRST (one CAS append, retried on
    * contention), dirs delete after — a crash between the two only
    * leaves unreclaimed space. NOTE the orphan sweep assumes no writer
    * is mid-commit (an in-flight writer's dir looks orphaned);
    * [[commit]] survives a concurrent sweep by re-writing its data, but
    * schedule vacuums away from heavy write contention. Returns the
    * vacuumed version numbers. */
  def vacuum(spark: SparkSession, path: String, retainLast: Int): Seq[Long] = {
    require(retainLast >= 1, s"retainLast=$retainLast must keep at least one")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    CommitLog.retrying {
      val (seq, entries) = headState(spark, path)
      val sorted = entries.sortBy(_.version)
      val dropped = sorted.dropRight(retainLast)
      val kept = sorted.takeRight(retainLast)
      val newSeq =
        if (dropped.nonEmpty)
          CommitLog.tryAppend(fs, root, seq, render(kept), isValid)
        else seq
      dropped.foreach(e => fs.delete(new Path(root, e.dir), true))
      // orphan sweep: data dirs no head mapping row points at
      val live = kept.map(_.dir).toSet
      if (fs.exists(root)) fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("d-"))
        .filterNot(st => live(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
      // commit-file history below the new head is fully superseded
      CommitLog.sweep(fs, root, newSeq)
      dropped.map(_.version)
    }
  }
}
