package graft.sinks

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}

/** APPEND-ONLY COMMIT LOG — the optimistic-concurrency primitive every
  * multi-writer sink publishes through.
  *
  * The engine's original publish protocol ([[MergeSink.atomicSwap]]) is
  * rename-based and single-writer: two jobs committing the same snapshot
  * interleave their swaps and the last rename silently wins — the lost
  * update the reference shares (its Mongo sink,
  * /root/reference/src/func/mongo.py:103-163, has per-statement
  * server-side atomicity but nothing across writers). And on an object
  * store there is no atomic rename to build the swap from in the first
  * place.
  *
  * This log replaces the swap with the lakehouse commit protocol
  * (Delta/Iceberg's): state lives as IMMUTABLE numbered commit files
  * `_commits/<seq>` under the sink root, each carrying the FULL
  * metadata of the state after that commit (tiny — mappings and schema,
  * never data). The publish step is ONE file creation with
  * put-if-absent semantics, which is simultaneously:
  *
  *  - the CAS: a writer that read head seq `s` publishes by creating
  *    `_commits/<s+1>`; if a concurrent writer got there first the
  *    create fails and the loser gets a retryable
  *    [[CommitLog.CommitConflictException]] — one winner per slot,
  *    never a silent overwrite;
  *  - the object-store-safe publish: one immutable object write — no
  *    renames anywhere on the read or publish path. On HDFS
  *    `create(overwrite=false)` is atomic; on S3 it maps to a
  *    conditional PUT (`If-None-Match: *`). Hadoop's LOCAL
  *    `create(overwrite=false)` is check-then-act (two same-slot
  *    writers can both pass the check and the second truncates the
  *    first), so on `file://` the slot is reserved with a
  *    kernel-atomic O_EXCL `createFile` before the content streams —
  *    the local CAS is truly atomic too (real-thread contention is
  *    spec-pinned), while the reclaim grace below closes the
  *    slow-writer window create-then-stream leaves on any scheme.
  *
  * Crash discipline (no recovery renames needed — compare
  * [[MergeSink.recoverSwap]]'s two-rename window):
  *
  *  - data is always written BEFORE the commit file that references it;
  *    a crash pre-publish leaves invisible orphan data dirs (swept by
  *    the owning sink's vacuum), state stays at the previous commit;
  *  - a crash MID-WRITE of a commit file leaves a truncated head file.
  *    Readers validate content (each sink's format ends with a sentinel
  *    line) and fall back past unparsable residue; the next writer
  *    reclaims the slot (an invalid file is deletable by contract — a
  *    writer that crashed mid-write never returned success, so nothing
  *    ever referenced that commit) — but ONLY once the residue has aged
  *    past [[DefaultReclaimGraceMs]]: on a filesystem where create and
  *    the content write are separate operations (the local FS; HDFS), a
  *    SLOW concurrent writer mid-stream is byte-indistinguishable from
  *    a crashed one, and deleting its in-flight file would let both
  *    writers return success — the silent lost update this log exists
  *    to prevent. Younger invalid residue is treated as a conflict
  *    (loud, retryable); after the grace only a genuinely dead writer
  *    can own it (a live writer's create-to-close window is bounded by
  *    the tiny metadata payload, not by data-plane work — every sink
  *    writes its data dirs BEFORE appending). A PARSABLE commit file is
  *    never deleted or rewritten. On a store whose conditional PUT is
  *    atomic with the content (S3 `If-None-Match: *`), partial residue
  *    cannot exist and the grace never engages.
  *
  * Retry contract: every client publishes through ONE loop,
  * [[retrying]]. An attempt reads the head, derives, and CAS-appends;
  * a lost slot starts the next attempt, at most [[MaxAttempts]] in all,
  * and the conflict that ends the last one is rethrown. What a lost
  * attempt leaves on disk is the client's to tidy:
  *
  *  - RE-DERIVE clients (the compactions and `optimizeFlaggedManifested`,
  *    the purges, `rebucketManifested`, `applyChangesManifested`, the
  *    IVF refits and ingest, the `LedgeredState`/`SnapshotState` folds)
  *    built their generation from the head they lost against, so each
  *    attempt deletes its own losing generation before the next attempt
  *    re-derives ([[onConflict]] inside the [[retrying]] body);
  *  - WRITE-ONCE clients (`DirManifest.writeCommit`, `Ivf.writeIndex`,
  *    `Ivf.snapshotListMeans`) wrote data that does not depend on the
  *    head, so a lost attempt only re-reads the head and re-appends;
  *    their generation is deleted once, when they give up
  *    ([[onConflict]] around [[retrying]]).
  *    `VersionCatalog.commit` and `CurateJob` never delete theirs: an
  *    unpublished dir is an orphan the next vacuum sweeps;
  *  - `TableGroup.publishPins` and `VersionCatalog.vacuum` write nothing
  *    before the CAS, so a lost attempt leaves nothing to tidy.
  *
  * `mergeIntoManifested` is both: a loser whose winner touched
  * disjoint buckets re-appends the same generation (write-once), one
  * whose inputs changed deletes it and re-merges (re-derive); either
  * way the lost attempt counts against the same [[MaxAttempts]].
  *
  * Scale: O(commits) tiny metadata files, read = one listing + one
  * small file; nothing here is corpus-shaped. Sinks that accumulate
  * very long histories can sweep fully-superseded files in their
  * vacuum (every commit carries full state, so old files are never
  * needed for correctness).
  */
object CommitLog {

  /** Retryable: another writer won the commit slot. Re-read the head,
    * reconcile, and publish again. */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** How many attempts [[retrying]] makes before it rethrows: the one
    * retry limit of every commit client. A lost attempt costs a head
    * read (plus a re-derivation for re-derive clients), so twenty
    * bounds a loser's extra work while covering any realistic burst of
    * concurrent writers on one log; a writer that loses twenty races
    * in a row is starved, and surfacing that beats spinning. */
  val MaxAttempts = 20

  /** Run `body` — one attempt: read the head, derive, CAS-append —
    * until it returns. A [[CommitConflictException]] raised anywhere in
    * `body` is a lost attempt and starts the next one; the conflict
    * that ends attempt [[MaxAttempts]] is rethrown. Any other exception
    * ends the loop at once, unretried. */
  def retrying[A](body: => A): A = {
    var attempt = 0
    var result = Option.empty[A]
    while (result.isEmpty)
      try result = Some(body)
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= MaxAttempts) throw e
      }
    result.get
  }

  /** Run `body`; when it loses a slot, run `tidy` (delete what the lost
    * attempt wrote) and rethrow the conflict. Inside a [[retrying]] body
    * it tidies every lost attempt; around [[retrying]] it tidies once,
    * when the loop gives up. */
  def onConflict[A](tidy: => Unit)(body: => A): A =
    try body
    catch { case e: CommitConflictException => tidy; throw e }

  private val End = "END"

  /** A commit's text: the client's format `header`, its `body` lines and
    * the `END` sentinel a truncated write lacks. */
  def frame(header: String, body: Seq[String]): String =
    (header +: body :+ End).mkString("\n")

  /** The body lines of a commit [[frame]]d under `header`; None for
    * another format or a truncated write. Each client checks its own
    * body lines. */
  def unframe(header: String, content: String): Option[Seq[String]] = {
    val ls = content.linesIterator.toSeq
    if (ls.headOption.contains(header) && ls.lastOption.contains(End))
      Some(ls.drop(1).dropRight(1))
    else None
  }

  private[graft] val Dir = "_commits"

  /** How long invalid slot residue must sit unmodified before a writer
    * may reclaim it (see the crash-discipline doc above): long enough
    * that no live writer is still streaming a kilobyte-scale metadata
    * file, short enough that a crashed slot never blocks the pipeline's
    * next run. Specs that plant synthetic residue age it explicitly
    * with `FileSystem.setTimes`. */
  val DefaultReclaimGraceMs: Long = 60000L

  /** Store capability gate for the RECLAIM path: deleting aged invalid
    * residue is lost-update-proof only when the store either gives
    * paths INODE semantics (a stalled owner's in-flight stream lands in
    * the unlinked inode, never over a reclaimer's published commit —
    * `file://` via the O_EXCL branch, HDFS) or an atomic CONDITIONAL
    * PUT (S3 `If-None-Match: *`), where partial residue cannot exist
    * and the grace never engages. Any other scheme must assert the
    * capability explicitly by setting this boolean in the Hadoop
    * configuration; without it a publish that would need to reclaim
    * aged residue fails loudly ([[ReclaimUnsupportedException]])
    * instead of opening the both-writers-return-success window the
    * class doc describes. */
  val ConditionalPutProp = "graft.commitlog.conditional-put"

  private val InodeSafeSchemes = Set("file", "hdfs", "viewfs")

  /** Loud capability failure: the store is not vouched reclaim-safe
    * (see [[ConditionalPutProp]]) and a slot holds aged invalid
    * residue. NOT retryable — fix the store config or clear the
    * residue manually after verifying its writer is dead. */
  final class ReclaimUnsupportedException(msg: String)
    extends IllegalStateException(msg)

  private[graft] def reclaimCapable(fs: FileSystem): Boolean =
    InodeSafeSchemes.contains(fs.getScheme) ||
      Option(fs.getConf).exists(_.getBoolean(ConditionalPutProp, false))

  private def logDir(root: Path) = new Path(root, Dir)

  private def fileOf(root: Path, seq: Long): Path = {
    require(seq >= 1, s"commit seq $seq must be >= 1")
    new Path(logDir(root), f"$seq%020d")
  }

  /** All commit seqs present (ascending), including any unparsable
    * crash residue — callers validate content. */
  def seqs(fs: FileSystem, root: Path): Seq[Long] = {
    val d = logDir(root)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).iterator
      .filter(_.isFile)
      .flatMap(st => st.getPath.getName.toLongOption)
      .toSeq.sorted
  }

  /** Content of commit `seq`, if the file exists (raw — may be a
    * truncated crash residue; validate before trusting). */
  def read(fs: FileSystem, root: Path, seq: Long): Option[String] = {
    val f = fileOf(root, seq)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** The newest VALID commit: walks down from the highest seq past any
    * unparsable residue (at most the in-flight tail can be invalid).
    * Returns (seq, content), or None on an empty/never-committed log. */
  def head(fs: FileSystem, root: Path,
           isValid: String => Boolean): Option[(Long, String)] =
    seqs(fs, root).reverseIterator
      .flatMap(s => read(fs, root, s).filter(isValid).map(s -> _))
      .nextOption()

  /** Publish `content` as commit `expectedHead + 1`. Throws
    * [[CommitConflictException]] if the slot is taken by a VALID commit
    * (another writer won — retryable). Invalid residue in the slot is
    * reclaimed ONLY once it has aged past `reclaimGraceMs` — younger
    * residue may be a slow concurrent writer mid-stream, which is a
    * conflict, not a crash (see the crash-discipline doc). `expectedHead`
    * 0 means "I read an empty log".
    *
    * The content write goes through a create(overwrite = false): the
    * existence check IS the CAS. A crash between our create and the
    * full content landing leaves residue the next writer reclaims
    * after the grace. */
  def tryAppend(fs: FileSystem, root: Path, expectedHead: Long,
                content: String, isValid: String => Boolean,
                reclaimGraceMs: Long = DefaultReclaimGraceMs,
                beforeStream: () => Unit = () => ()): Long = {
    require(expectedHead >= 0, s"expectedHead=$expectedHead")
    require(isValid(content),
      "refusing to append content the caller's own validator rejects " +
        "(readers would skip it as crash residue)")
    val seq = expectedHead + 1
    val f = fileOf(root, seq)
    fs.mkdirs(logDir(root))
    if (fs.exists(f)) {
      if (read(fs, root, seq).exists(isValid))
        throw new CommitConflictException(
          s"commit $seq at $root already published by another writer " +
            s"(expected head $expectedHead is stale) — re-read and retry")
      // invalid content: crashed writer's residue OR a live writer still
      // streaming — indistinguishable by bytes, distinguished by age
      val age =
        try System.currentTimeMillis() - fs.getFileStatus(f).getModificationTime
        catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (age < reclaimGraceMs)
        throw new CommitConflictException(
          s"commit slot $seq at $root holds invalid content younger than " +
            s"the ${reclaimGraceMs}ms reclaim grace — a concurrent writer " +
            "may still be streaming it; re-read and retry after it " +
            "publishes or ages out")
      if (!reclaimCapable(fs))
        throw new ReclaimUnsupportedException(
          s"commit slot $seq at $root holds aged invalid residue, but " +
            s"scheme '${fs.getScheme}' is not vouched reclaim-safe: on a " +
            "store without inode or conditional-PUT semantics, deleting " +
            "the slot can let a stalled writer's unconditional PUT " +
            "silently overwrite the reclaimed commit. Set " +
            s"$ConditionalPutProp=true in the Hadoop configuration to " +
            "assert the store's conditional-PUT capability, or clear the " +
            "residue manually after verifying its writer is dead")
      fs.delete(f, false) // aged truncated crash residue: reclaim the slot
    }
    // Any seq beyond ours ⇒ we lost long ago (head moved past us).
    val newest = seqs(fs, root).lastOption.getOrElse(0L)
    if (newest > seq || (newest == seq && fs.exists(f)))
      throw new CommitConflictException(
        s"commit log at $root is at seq $newest, past expected head " +
          s"$expectedHead — re-read and retry")
    // The put-if-absent create is the CAS itself. On object stores the
    // conditional PUT is atomic server-side; Hadoop's LOCAL create
    // (overwrite = false) is check-then-act — two same-slot writers can
    // BOTH pass the exists check and the second FileOutputStream
    // truncates the first, silently sharing the slot (observed under
    // real thread interleaving). For file:// the slot is therefore
    // reserved first with an O_EXCL createFile — kernel-atomic — and
    // only the reservation's owner streams the content.
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (fs.getScheme == "file") {
      // The CREATE_NEW open is simultaneously the O_EXCL slot
      // reservation AND the write handle — one kernel-atomic operation,
      // pinned to the inode it created. (A separate reserve-then-open
      // pair reopens the PATH: an owner stalled past the reclaim grace
      // between the two calls would truncate whatever a reclaiming
      // writer published into the slot — the silent lost update the CAS
      // exists to prevent.)
      val p = java.nio.file.Paths.get(f.toUri.getPath)
      val out =
        try java.nio.file.Files.newOutputStream(p,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new CommitConflictException(
              s"lost the race for commit $seq at $root — re-read and retry")
        }
      // beforeStream: injectable seam for specs that pin the
      // stalled-owner window — the handle is open (inode pinned),
      // no bytes streamed yet
      beforeStream()
      try out.write(bytes)
      finally out.close()
      // If we stalled past the grace mid-stream, a reclaimer may have
      // unlinked our reservation and published its own commit: our
      // write went to the orphaned inode and the PATH now holds theirs.
      // Publishing means the path holds OUR bytes — verify, and report
      // the reclaimed case as a loud retryable conflict, never success.
      if (!read(fs, root, seq).contains(content))
        throw new CommitConflictException(
          s"commit slot $seq at $root was reclaimed while this writer " +
            "was stalled mid-stream (path content is not ours) — " +
            "re-read and retry")
    } else {
      val out =
        try fs.create(f, false)
        catch {
          case _: FileAlreadyExistsException =>
            throw new CommitConflictException(
              s"lost the race for commit $seq at $root — re-read and retry")
          case e: java.io.IOException if fs.exists(f) =>
            // FileSystem contract only promises "IOException if exists" —
            // map the exists case to a conflict, rethrow real IO errors
            throw new CommitConflictException(
              s"lost the race for commit $seq at $root (${e.getMessage}) — " +
                "re-read and retry")
        }
      beforeStream()
      try out.write(bytes)
      finally out.close()
      // Same stalled-owner discipline as the file branch: on a store
      // where the create and the content landing are SEPARATE
      // operations (HDFS; S3A without conditional PUT, where close()
      // is an unconditional object PUT), an owner stalled past the
      // reclaim grace can land its bytes OVER a reclaimer's published
      // commit. Publishing means the slot holds OUR bytes — verify
      // (one kilobyte-scale read), and report the reclaimed case as a
      // loud retryable conflict. This read-back is BEST-EFFORT on
      // unconditional-PUT stores: it catches the ordering where the
      // reclaimer's bytes land after the stalled owner's, but the
      // opposite ordering (reclaimer publishes, then the owner's
      // unconditional PUT overwrites it) leaves the owner reading its
      // own bytes — both writers return success and neither detects
      // the lost update. That ordering requires a RECLAIM to have
      // happened, and the reclaim path refuses to run on a store not
      // vouched reclaim-safe (inode semantics or conditional PUT —
      // [[ConditionalPutProp]], enforced in tryAppend), so on a
      // correctly-declared store this read only ever confirms; the
      // dangerous combination fails loudly at the reclaim instead.
      if (!read(fs, root, seq).contains(content))
        throw new CommitConflictException(
          s"commit slot $seq at $root was reclaimed while this writer " +
            "was stalled mid-stream (slot content is not ours) — " +
            "re-read and retry")
    }
    seq
  }

  /** Sweep fully-superseded commit files strictly below `belowSeq`
    * (each commit carries full state, so only the head is ever read;
    * keeping a margin below head lets concurrent readers finish).
    * Never touches the head. */
  def sweep(fs: FileSystem, root: Path, belowSeq: Long): Seq[Long] = {
    val all = seqs(fs, root)
    val headSeq = all.lastOption.getOrElse(0L)
    val victims = all.filter(s => s < belowSeq && s < headSeq)
    victims.foreach(s => fs.delete(fileOf(root, s), false))
    victims
  }
}
