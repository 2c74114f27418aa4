package graft.sinks

import graft.Parquets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** COMMIT-LOG SNAPSHOT STATE — the one-frame sibling of
  * [[LedgeredState]], for the small persistent folds whose replay
  * safety comes from their own SEMANTICS rather than a batch ledger:
  * keyed last-writer state behind a watermark (CDC), monotone-mergeable
  * top-k/k-min/skyline states (weighted sample, overlap fingerprint,
  * quality skyline). Each previously kept `$path/state` + a two-rename
  * swap with its own bak suffix; this is the same state as ONE
  * generation dir per commit:
  *
  *  - `$path/g-<tok>/` the immutable snapshot frame (writer-unique);
  *  - `$path/_commits/<seq>` commit files naming the current dir.
  *
  * Publish = one commit-file create: rename-free (object-store-safe),
  * no two-rename crash window to recover (the swap's
  * moved-aside-but-not-replaced state is unrepresentable), and a
  * concurrent writer loses the CAS LOUDLY — [[fold]] then re-derives
  * its fold against the winner's state and retries, which is exactly
  * the right reconciliation for these folds (all are idempotent
  * re-folds over the current state + the batch).
  *
  * Readers get the [[LedgeredState]] retention margin: the last
  * `retainCommits` generations survive each publish, so a reader that
  * resolved the previous head finishes its scan across a concurrent
  * fold + sweep.
  *
  * Scale: these states are kilobytes-to-k-rows BY DESIGN (the callers'
  * contract); the publish adds one tiny file create per fold. */
object SnapshotState {

  private val Header = "graft-snapshot-v1"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isValid(content: String): Boolean =
    CommitLog.unframe(Header, content).exists {
      case Seq(l) => l.startsWith("D\t") && l.drop(2).nonEmpty
      case _ => false
    }

  private[graft] def render(dir: String): String =
    CommitLog.frame(Header, Seq(s"D\t$dir"))

  private def parse(content: String): String =
    CommitLog.unframe(Header, content).get.head.drop(2)

  /** Fail LOUDLY on the retired `$path/state` two-rename layout instead
    * of silently reading it as fresh (the [[LedgeredState]] precedent):
    * migration is one deliberate re-fold of the old state dir. */
  private def legacyLayoutCheck(fs: FileSystem, path: String): Unit = {
    if (fs.exists(new Path(s"$path/state")))
      throw new IllegalStateException(
        s"legacy swapped snapshot-state layout detected at $path/state; " +
          "expected $path/_commits/ + $path/g-*/. Refusing to proceed — " +
          "a commit would silently orphan the accumulated state. Migrate " +
          "by re-folding the old state dir through SnapshotState.fold.")
  }

  private def headDir(spark: SparkSession,
                      path: String): (Long, Option[String]) = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    legacyLayoutCheck(fs, path)
    CommitLog.head(fs, root, isValid)
      .map { case (seq, c) => (seq, Some(parse(c))) }
      .getOrElse((0L, None))
  }

  /** The committed snapshot frame, or None before the first fold. */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    headDir(spark, path)._2
      .map(d => Parquets.read(spark, new Path(new Path(path), d).toString))

  /** Fold-and-publish: `f` maps the CURRENT committed snapshot (None
    * before the first fold) to the next one; the result lands as a new
    * generation dir and ONE commit-file create publishes it. A CAS loss
    * re-invokes `f` against the winner's state — `f` must be a pure
    * function of (current state, the caller's batch), which every
    * caller's fold already is. After the publish, generations older
    * than the retention margin are swept. */
  def fold(spark: SparkSession, path: String,
           retainCommits: Int = 2)(
           f: Option[DataFrame] => DataFrame): Unit = {
    require(retainCommits >= 1, s"retainCommits=$retainCommits")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    CommitLog.retrying {
      val (seq, cur) = headDir(spark, path)
      val next = f(cur.map(d =>
        Parquets.read(spark, new Path(root, d).toString)))
      val gen = s"g-${UUID.randomUUID().toString.take(8)}"
      next.write.mode("overwrite").parquet(new Path(root, gen).toString)
      // a lost slot means another writer folded first: this derivation
      // is stale — discard it and re-fold from the winner's state
      CommitLog.onConflict(fs.delete(new Path(root, gen), true)) {
        CommitLog.tryAppend(fs, root, seq, render(gen), isValid)
      }
      // retention sweep: commits below the margin, then gens no
      // surviving commit references (incl. crash residue)
      val keepFrom = (seq + 1) - (retainCommits - 1)
      CommitLog.sweep(fs, root, keepFrom)
      val live = CommitLog.seqs(fs, root)
        .flatMap(s => CommitLog.read(fs, root, s).filter(isValid))
        .map(parse).toSet + gen
      fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("g-"))
        .filterNot(st => live(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
    }
  }
}
