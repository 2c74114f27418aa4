package graft.sinks

import graft.Parquets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic commit for LEDGER-GUARDED additive ingest state — published
  * through the [[CommitLog]].
  *
  * The additive folds (vocabulary, corpus report, DSIR counts, moments,
  * graph edges+frontier, contracts, skew, KLL, …) restore idempotence
  * under at-least-once delivery with a batchId ledger, and the ledger
  * must travel ATOMICALLY with the state parts: a crash window between
  * "fold applied" and "batch recorded" double-counts on replay —
  * exactly the failure the ledger exists to prevent.
  *
  * Earlier revisions guaranteed that with a whole-directory two-rename
  * swap. This revision publishes through the commit log instead —
  * immutable objects only, ZERO renames on any path:
  *
  *  - `$path/g-<tok>/<part>/` one immutable parquet dir per part per
  *    commit (the generation dir; writer-unique token);
  *  - `$path/_commits/<seq>` commit files, each carrying the FULL
  *    state: the absorbed batch-id set AND the part → dir mapping.
  *    THE HEAD COMMIT IS AUTHORITATIVE; a generation dir it does not
  *    reference is dead (a crashed commit's residue or a superseded
  *    generation) and is swept by the next commit.
  *
  * Either the whole batch (every part and its ledger row) is visible,
  * or none of it is: the parts land first, then ONE commit-file create
  * publishes them together. A crash pre-publish leaves invisible
  * orphans and the previous commit authoritative; a crash mid-write of
  * the commit file leaves truncated residue readers skip and the next
  * writer reclaims ([[CommitLog]]'s contract). Commit semantics are
  * FULL REPLACEMENT: the new head carries exactly the parts this
  * commit names (unchanged from the swap era — every fold writes its
  * whole state set).
  *
  * Writers: [[commit]] is the per-pipeline SINGLE-writer form — it
  * re-reads the head at publish time, so its CAS is loud only against
  * a conflict landing inside that read-to-publish window; a commit
  * that lands between the CALLER's state read and [[commit]] would
  * still publish the stale fold. Multi-writer folds use [[commitFold]]
  * instead: the derivation runs INSIDE the retry loop against a
  * snapshot reader pinned to exactly the head seq the publish
  * CAS-checks (the ManifestMergeSink recomputeUpdates discipline), so
  * a losing writer re-derives from the winner's state and no fold is
  * ever dropped or doubled — q217 gates the interleave end to end.
  *
  * Scale: the publish adds zero data-plane cost — part writes are the
  * same fold outputs, the commit file is O(batches + parts) tiny
  * lines. Generation dirs superseded past the reader-retention margin
  * (see [[commit]]'s `retainCommits`) are deleted after each publish,
  * so disk holds ~retainCommits committed states plus the in-flight
  * write. */
object LedgeredState {

  private val Header = "graft-ledgered-v1"

  private[graft] final case class State(batches: Set[String],
                                 parts: Map[String, String])

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isValid(content: String): Boolean =
    CommitLog.unframe(Header, content).exists(_.forall { l =>
      l.split('\t') match {
        case Array("B", b) => b.nonEmpty
        case Array("P", p, d) => p.nonEmpty && d.nonEmpty
        case _ => false
      }
    })

  private[graft] def render(st: State): String =
    CommitLog.frame(Header,
      st.batches.toSeq.sorted.map(b => s"B\t$b") ++
        st.parts.toSeq.sortBy(_._1).map { case (p, d) => s"P\t$p\t$d" })

  private def parse(content: String): State = {
    val body = CommitLog.unframe(Header, content).get
    State(
      body.collect { case l if l.startsWith("B\t") => l.drop(2) }.toSet,
      body.collect { case l if l.startsWith("P\t") =>
        val Array(_, p, d) = l.split('\t'); p -> d
      }.toMap)
  }

  private def headState(spark: SparkSession,
                        path: String): (Long, Option[State]) = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    legacyLayoutCheck(fs, path)
    CommitLog.head(fs, root, isValid)
      .map { case (seq, c) => (seq, Some(parse(c))) }
      .getOrElse((0L, None))
  }

  /** Fail LOUDLY on the two retired on-disk layouts (pre-r12 flat
    * parquet + `$path/_batches`; r12–r14 swapped `$path/state/<part>`)
    * instead of silently treating them as fresh: under the commit-log
    * layout both look absent, and the first post-upgrade commit would
    * leave the accumulated state orphaned — the silent
    * restart-from-empty loss this file's contract exists to prevent.
    * Migration is one deliberate re-commit of the old parts under a
    * batch ledger rebuilt from the old `_batches` rows — the
    * OPERATOR's act, never an implicit one mid-ingest. */
  private def legacyLayoutCheck(fs: FileSystem, path: String): Unit = {
    val legacyLedger = new Path(s"$path/_batches")
    val legacyState = new Path(s"$path/state")
    if (fs.exists(legacyLedger) || fs.exists(legacyState))
      throw new IllegalStateException(
        s"legacy LedgeredState layout detected at $path (" +
          (if (fs.exists(legacyLedger)) s"ledger at $legacyLedger; " else "") +
          (if (fs.exists(legacyState)) s"swapped state at $legacyState; " else "") +
          "expected $path/_commits/ + $path/g-*/). Refusing to proceed: " +
          "a commit would silently orphan the accumulated state. Migrate " +
          "by re-committing the old parts through LedgeredState.commit " +
          "with the old ledger's batch ids.")
  }

  /** true iff `batchId` is recorded in the COMMITTED ledger — i.e. the
    * batch's fold is fully applied (commit is all-or-nothing). */
  def absorbed(spark: SparkSession, path: String, batchId: String): Boolean =
    headState(spark, path)._2.exists(_.batches.contains(batchId))

  /** The committed state part as a frame, or None before first commit. */
  def readPart(spark: SparkSession, path: String, part: String): Option[DataFrame] =
    headState(spark, path)._2.flatMap(_.parts.get(part))
      .map(d => Parquets.read(spark, new Path(new Path(path), d).toString))

  /** Publish `parts` plus the batchId-extended ledger in ONE commit-file
    * create. Part frames may read the previous committed state: its
    * dirs are immutable and never move, so every lazy read completes
    * against exactly the bytes it planned over. After the publish,
    * generation dirs no RETAINED commit references (and any crash
    * residue) are swept — `retainCommits` keeps the last N commits and
    * their dirs alive, so a long-running READER that resolved a recent
    * head finishes its scan across a concurrent commit + sweep (the
    * single-writer discipline covers writers, never readers; this is
    * [[CommitLog.sweep]]'s margin put to its designed use). */
  def commit(spark: SparkSession, path: String, batchId: String,
             parts: Seq[(String, DataFrame)],
             retainCommits: Int = 2): Unit = {
    val (seq, prev) = headState(spark, path)
    writeAndPublish(spark, path, seq, prev, batchId, parts, retainCommits)
  }

  /** Write `parts` as a generation and CAS-publish at `seq + 1`; sweep
    * past the retention margin on success. Throws
    * [[CommitLog.CommitConflictException]] on a lost slot, after
    * deleting the losing generation dir (the caller retries with a
    * FRESH derivation). */
  private def writeAndPublish(spark: SparkSession, path: String, seq: Long,
                              prev: Option[State], batchId: String,
                              parts: Seq[(String, DataFrame)],
                              retainCommits: Int): Unit = {
    require(retainCommits >= 1, s"retainCommits=$retainCommits")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val gen = s"g-${UUID.randomUUID().toString.take(8)}"
    // Part writes are INDEPENDENT actions over frames derived from the
    // same immutable committed state — submit them concurrently (guide
    // §2.6 "overlap independent jobs"): one part's write tail no longer
    // serializes the next part's whole job. Order of completion is
    // irrelevant; the commit file below publishes all-or-nothing either
    // way, and a failure in any write fails the whole publish as before.
    if (parts.size <= 1)
      parts.foreach { case (name, df) =>
        df.write.mode("overwrite")
          .parquet(new Path(root, s"$gen/$name").toString)
      }
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(parts.size, 4))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(parts.map { case (name, df) => Future {
          // measured and rejected: a REBALANCE hint before each part
          // write capped the ~1 s serial write tail but paid an extra
          // exchange job per part and doubled shuffle bytes — a wash in
          // wall time and strictly more bytes moved (guide §2.3)
          df.write.mode("overwrite")
            .parquet(new Path(root, s"$gen/$name").toString)
        }}), Duration.Inf)
      finally pool.shutdown()
    }
    val next = State(
      prev.map(_.batches).getOrElse(Set.empty) + batchId,
      parts.map { case (name, _) => name -> s"$gen/$name" }.toMap)
    CommitLog.onConflict(fs.delete(new Path(root, gen), true)) {
      CommitLog.tryAppend(fs, root, seq, render(next), isValid)
    }
    // sweep commits below the retention margin, then every generation
    // dir no surviving commit references — superseded beyond the
    // margin, crashed writers' residue (a crash here leaves orphans
    // for the next sweep)
    val keepFrom = (seq + 1) - (retainCommits - 1)
    CommitLog.sweep(fs, root, keepFrom)
    val live = CommitLog.seqs(fs, root)
      .flatMap(s => CommitLog.read(fs, root, s).filter(isValid))
      .flatMap(c => parse(c).parts.values.map(_.split('/').head))
      .toSet + gen
    if (fs.exists(root)) fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("g-"))
      .filterNot(st => live(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** The state a [[commitFold]] derivation reads — parts resolved at
    * exactly the head seq the publish will CAS against (immutable dirs,
    * so every lazy plan built from it completes even if the head moves). */
  final class SnapshotReader private[LedgeredState](spark: SparkSession,
      path: String, st: Option[State]) {
    def part(name: String): Option[DataFrame] =
      st.flatMap(_.parts.get(name))
        .map(d => Parquets.read(spark, new Path(new Path(path), d).toString))
  }

  /** CONTENTION-SAFE fold-and-commit: `derive` maps the committed state
    * to the batch's parts, re-invoked on every attempt against a reader
    * pinned to the head seq the publish CAS-checks — a commit landing
    * between derivation and publish forces a LOUD conflict and a fresh
    * derivation from the winner's state (the
    * [[ManifestMergeSink.mergeIntoManifested]] recomputeUpdates
    * discipline applied to additive folds; [[commit]] alone cannot give
    * this, since it re-reads the head itself and would publish a fold
    * derived from an older one). `derive` must be a pure function of
    * (committed state, the caller's batch) — every ledgered fold
    * already is. Returns false if `batchId` is already absorbed (the
    * at-least-once no-op, also re-checked per attempt: a racing
    * duplicate delivery of the SAME batch resolves to one fold).
    * `beforePublish` is the q203/q209/q214 contention seam. */
  def commitFold(spark: SparkSession, path: String, batchId: String,
                 beforePublish: () => Unit = () => (),
                 retainCommits: Int = 2)(
                 derive: SnapshotReader => Seq[(String, DataFrame)]): Boolean = {
    var hookPending = true
    CommitLog.retrying {
      val (seq, prev) = headState(spark, path)
      if (prev.exists(_.batches.contains(batchId))) false
      else {
        val parts = derive(new SnapshotReader(spark, path, prev))
        if (hookPending) { hookPending = false; beforePublish() }
        writeAndPublish(spark, path, seq, prev, batchId, parts, retainCommits)
        true
      }
    }
  }
}
