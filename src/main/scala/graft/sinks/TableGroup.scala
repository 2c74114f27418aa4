package graft.sinks

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** MULTI-TABLE ATOMIC PUBLISH — a root commit log whose state is a set
  * of per-table PINS into the member tables' own commit logs, so a
  * transaction touching several tables becomes visible all at once.
  *
  * The reference's pipeline has exactly this shape implicitly: the
  * bulk-update job writes the data collection AND its run metadata as
  * separate unguarded writes (howto-mongo-bulk-update-from-parquet
  * src/cli/job.py:20-94 — a reader between them sees new data with old
  * metadata). Here the layout makes the pair flip together:
  *
  *  - member tables are ordinary [[ManifestMergeSink]] snapshots at
  *    `$root/tables/<name>` — their OWN commit logs serialize their
  *    writers and version their states;
  *  - `$root/_commits/<seq>` root commit files carry `P <table> <seq>`
  *    pin lines — the table set and the child versions a reader uses.
  *
  * A transaction: run its child merges (each durable in its table's
  * log, but INVISIBLE to group readers — the root still pins the old
  * seqs), then publish the new pins in ONE root CAS. Readers resolve
  * the root head ONCE and read every table at its pinned seq
  * ([[ManifestMergeSink.readManifestedAt]]) — there is no window where
  * table A shows the transaction and table B doesn't.
  *
  * Contention: pins are MONOTONE per table (child logs linearize their
  * history, and a child seq's state subsumes all prior commits), so a
  * root CAS loser merges by per-table max and repoints — disjoint
  * transactions both land untouched; overlapping transactions converge
  * to the newest child version per table, exactly the per-table
  * serialization the child CAS already enforced. Crash before the root
  * publish leaves child commits invisible to group readers (the re-run
  * converges; child vacuum sweeps superseded generations under its
  * retention margin — which must cover the pinned seqs, the documented
  * [[ManifestMergeSink.vacuumManifested]] reader contract).
  *
  * SCOPE of the atomic-flip guarantee: in-flight transactions must not
  * SHARE a table. If transaction A commits children on tables (x, y)
  * and, before A's root publish, an independent writer B commits a
  * LATER child on x and publishes {x}, B's pin advance exposes A's
  * x-rows (subsumed in the newer child seq — the child log linearized
  * them) while A's y-pin is still old: a torn pair until A's own
  * publish completes it. Disjoint-table transactions never do this (a
  * publish only advances the tables it names), so the discipline is
  * the per-TABLE single-in-flight-transaction rule — the same
  * single-writer-per-pipeline discipline every child sink documents,
  * lifted to the group. Delta/Iceberg-style single-table committers
  * inherit the identical anomaly when composed; here the rule is
  * ENFORCED, not just documented — [[withTableIntents]]/[[transact]]
  * turn a shared-table overlap into a loud [[TableBusyException]]
  * before any child merge runs.
  *
  * Scale: the root state is O(tables) tiny lines; publish is one small
  * object write regardless of how much data the transaction moved. */
object TableGroup {

  /** Root state: table name → pinned child commit seq. */
  final case class GroupState(pins: Map[String, Long])

  private val Header = "graft-tablegroup-v1"

  private[sinks] def isValid(content: String): Boolean =
    CommitLog.unframe(Header, content).exists(_.forall { l =>
      l.split('\t') match {
        case Array("P", t, s) => t.nonEmpty && s.toLongOption.isDefined
        case _ => false
      }
    })

  private[graft] def render(st: GroupState): String =
    CommitLog.frame(Header,
      st.pins.toSeq.sorted.map { case (t, s) => s"P\t$t\t$s" })

  private def parse(content: String): GroupState =
    GroupState(CommitLog.unframe(Header, content).get.map { l =>
      val Array(_, t, s) = l.split('\t'); t -> s.toLong
    }.toMap)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The member table's data path — an ordinary manifested snapshot. */
  def tablePath(root: String, name: String): String = s"$root/tables/$name"

  /** The committed head pin set; None before the first publish. */
  def headPins(spark: SparkSession,
               root: String): Option[(Long, GroupState)] = {
    val r = new Path(root)
    CommitLog.head(fsOf(spark, r), r, isValid)
      .map { case (seq, c) => (seq, parse(c)) }
  }

  /** Every RETAINED root commit's pins, oldest first — what a member
    * table's maintenance must keep readable: sweeping a child commit
    * any of these pins turns a published group view unreadable. */
  def retainedPins(spark: SparkSession,
                   root: String): Seq[(Long, GroupState)] = {
    val r = new Path(root)
    val fs = fsOf(spark, r)
    CommitLog.seqs(fs, r).sorted
      .flatMap(s => CommitLog.read(fs, r, s).filter(isValid)
        .map(c => (s, parse(c))))
  }

  /** The group root above `tablePath` if it IS a group member
    * (`$root/tables/<name>` with a root commit log); None standalone. */
  def groupRootOf(spark: SparkSession, tablePath: String): Option[String] = {
    val p = new Path(tablePath)
    val tablesDir = p.getParent
    if (tablesDir == null || tablesDir.getName != "tables") return None
    val root = tablesDir.getParent
    if (root == null) return None
    if (!fsOf(spark, root).exists(new Path(root, CommitLog.Dir))) return None
    Some(root.toString)
  }

  /** If `tablePath` is a member of a table group, the OLDEST child seq
    * any retained root commit pins for it — the floor a vacuum must
    * not sweep past. None for a standalone table. */
  def pinnedFloor(spark: SparkSession, tablePath: String): Option[Long] =
    groupRootOf(spark, tablePath).flatMap(root =>
      retainedPins(spark, root)
        .flatMap(_._2.pins.get(new Path(tablePath).getName)).minOption)

  /** Atomically publish `updates` pins (child commits already durable in
    * their tables' logs). Pins are MONOTONE: the published pin for each
    * table is the max of the head's and the update's — a publish whose
    * pin is behind the head is ABSORBED (the child log already
    * serialized that history: the newer child seq subsumes the older
    * one's work, so the slower transaction's effects are visible at the
    * head and there is nothing left to flip). A publish that advances
    * nothing skips the commit and returns the current seq — the no-op
    * is free. On a root CAS conflict the loser re-merges and retries —
    * metadata-only, no child work re-runs. `beforePublish` is the
    * injectable contention seam (the ManifestMergeSink precedent). */
  def publishPins(spark: SparkSession, root: String,
                  updates: Map[String, Long],
                  beforePublish: () => Unit = () => ()): Long = {
    require(updates.nonEmpty, "a transaction must pin at least one table")
    updates.keys.foreach(t =>
      require(!t.contains('\t') && !t.contains('\n') && !t.contains('\r') &&
        !t.contains('/') && t.nonEmpty,
        s"table name '$t' must be a plain path segment without tabs or " +
          "line breaks (it is rendered into the tab-delimited commit " +
          "file and used as a directory name)"))
    val r = new Path(root)
    val fs = fsOf(spark, r)
    var hookPending = true
    CommitLog.retrying {
      val head = headPins(spark, root)
      val seq = head.map(_._1).getOrElse(0L)
      val base = head.map(_._2.pins).getOrElse(Map.empty)
      val merged = base ++ updates.map { case (t, s) =>
        t -> math.max(s, base.getOrElse(t, 0L))
      }
      if (hookPending) { hookPending = false; beforePublish() }
      if (merged == base) seq // fully absorbed — nothing to flip
      else CommitLog.tryAppend(fs, r, seq, render(GroupState(merged)), isValid)
    }
  }

  /** Sweep superseded ROOT commits, keeping the head plus `keepLast`
    * older commits as the in-flight-reader margin. Without this the
    * root log grows forever and — worse — [[pinnedFloor]] spans every
    * pin ever published, so member-table vacuums retain generations
    * back to the group's FIRST publish (retention degrades to
    * retain-everything as the group accrues history). Sweeping
    * superseded roots advances the floor; run it from the same
    * maintenance cadence as the member vacuums, BEFORE them, so the
    * floor they see is current. Returns the swept seqs. */
  def vacuumGroup(spark: SparkSession, root: String,
                  keepLast: Int = 2): Seq[Long] = {
    require(keepLast >= 0, s"keepLast=$keepLast")
    val r = new Path(root)
    val fs = fsOf(spark, r)
    CommitLog.head(fs, r, isValid) match {
      case None => Seq.empty
      case Some((head, _)) => CommitLog.sweep(fs, r, head - keepLast)
    }
  }

  /** A transaction asked for a table whose in-flight marker another
    * transaction holds. Retryable once the holder publishes (markers
    * release on publish) or ages past the stale grace (crashed holder). */
  final class TableBusyException(msg: String) extends RuntimeException(msg)

  /** How long an intent marker may sit before a new transaction treats
    * its holder as crashed and reclaims it. Intents span CHILD MERGES
    * (data-plane work), unlike [[CommitLog]]'s metadata-only streams,
    * so the grace is generous — a legitimate holder publishing after
    * reclaim still cannot corrupt anything (pins are monotone; it
    * loses only the atomic-flip guarantee it already forfeited by
    * stalling). */
  val DefaultIntentGraceMs: Long = 600000L

  private def intentPath(root: Path, table: String): Path =
    new Path(new Path(root, "_intents"), table)

  /** Enforce the per-TABLE single-in-flight-transaction rule (the
    * SCOPE caveat above) instead of documenting it: acquire an O_EXCL
    * intent marker per table BEFORE running child merges, release on
    * publish. A second transaction touching a shared table fails
    * LOUDLY with [[TableBusyException]] — the torn-pair anomaly
    * becomes a named conflict — while disjoint-table transactions
    * acquire disjoint markers and proceed concurrently. Markers are
    * acquired in sorted order (no deadlock among partial acquirers).
    *
    * Ownership is a TOKEN written into the marker, and both the risky
    * transitions verify it:
    *  - RECLAIM of a crashed holder's aged marker goes through an
    *    atomic RENAME to a tombstone — exactly one of several
    *    concurrent reclaimers wins the rename (a delete-then-create
    *    pair would let two transactions both "acquire": the second's
    *    delete unlinks the first's fresh marker — the
    *    CommitLog.tryAppend check-then-act finding, again);
    *  - RELEASE deletes the marker only when it still carries this
    *    transaction's token: a holder stalled past `graceMs` whose
    *    marker was legitimately reclaimed must not unlink the NEW
    *    holder's marker on exit (it lost mutual exclusion for itself;
    *    it must not revoke anyone else's). A skipped release ages out
    *    like any crashed holder's marker.
    *
    * The reclaim itself verifies identity too: the marker's TOKEN is
    * captured BEFORE the age check, and after winning the rename the
    * tombstone must still carry that observed token. Without the
    * re-check the reclaim is check-then-act on the PATH: the aged
    * holder releases and a fresh transaction acquires between the age
    * read and the rename, and the rename moves the FRESH marker aside
    * — revoking a live holder (the torn-pair anomaly this guard
    * exists to prevent). On a token mismatch the tombstone is renamed
    * back (best effort) and the table is reported busy.
    *
    * `beforeReclaimRename` is an injectable seam for specs that pin
    * exactly that window (the marker judged stale, the rename not yet
    * issued) — production callers leave the default no-op. */
  def withTableIntents[A](spark: SparkSession, root: String,
                          tables: Seq[String],
                          graceMs: Long = DefaultIntentGraceMs,
                          beforeReclaimRename: Path => Unit = _ => ())
                         (body: => A): A = {
    require(tables.nonEmpty, "a transaction must name its tables")
    val r = new Path(root)
    val fs = fsOf(spark, r)
    fs.mkdirs(new Path(r, "_intents"))
    val token = java.util.UUID.randomUUID().toString
    val tokenBytes = token.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def tryCreate(p: Path): Boolean =
      if (fs.getScheme == "file") {
        // local create(overwrite=false) is check-then-act (the
        // CommitLog.tryAppend finding) — CREATE_NEW via NIO is the
        // O_EXCL reservation AND the token write handle in one
        try {
          val out = java.nio.file.Files.newOutputStream(
            java.nio.file.Paths.get(p.toUri.getPath),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          try out.write(tokenBytes) finally out.close()
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        try {
          val out = fs.create(p, false)
          try out.write(tokenBytes) finally out.close()
          true
        } catch {
          case _: FileAlreadyExistsException => false
          case _: java.io.IOException if fs.exists(p) => false
        }
      }
    def contentOf(p: Path): Option[String] =
      try {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      } catch { case _: java.io.IOException => None }
    val held = scala.collection.mutable.ArrayBuffer[Path]()
    try {
      tables.distinct.sorted.foreach { t =>
        val p = intentPath(r, t)
        val got = tryCreate(p) || {
          // capture the marker's IDENTITY (its holder's token) before
          // judging it stale — the reclaim below must only ever remove
          // THAT marker, never one created after this read. One retry
          // on the read: a transient failure must not wedge the table.
          val observed = contentOf(p).orElse(contentOf(p))
          val age =
            try System.currentTimeMillis() -
              fs.getFileStatus(p).getModificationTime
            catch { case _: java.io.FileNotFoundException => Long.MaxValue }
          age > graceMs && {
            // atomic reclaim: rename the aged marker aside — one winner
            val tomb = new Path(p.getParent,
              s"${p.getName}.reclaimed-${token.take(8)}")
            beforeReclaimRename(p)
            val won =
              try fs.rename(p, tomb)
              catch { case _: java.io.IOException => false }
            won && {
              // the rename moved whatever was AT the path — verify the
              // tombstone still carries the token we judged stale. A
              // mismatch means the aged holder released and a FRESH
              // transaction acquired between the age read and the
              // rename: restore its marker and report busy, never
              // revoke a live holder. An aged marker unreadable on BOTH
              // reads (observed == None) is a crashed holder's torn
              // write — an equally unreadable tombstone confirms no
              // fresh holder slipped in, so the reclaim proceeds rather
              // than wedging the table forever (manual unwedge, if a
              // store somehow defeats this: delete the .intent marker).
              if (contentOf(tomb) == observed) {
                fs.delete(tomb, false)
                tryCreate(p)
              } else {
                try fs.rename(tomb, p)
                catch { case _: java.io.IOException => () }
                false
              }
            }
          }
        }
        if (!got)
          throw new TableBusyException(
            s"table '$t' at $root has an in-flight transaction (intent " +
              s"marker $p held) — committing a second transaction on a " +
              "shared table risks the torn-pair anomaly; retry after " +
              "the holder publishes or its marker ages out")
        held += p
      }
      body
    } finally held.foreach { p =>
      // release ONLY what is still ours (see the ownership doc above)
      if (contentOf(p).contains(token)) fs.delete(p, false)
    }
  }

  /** The full guarded transaction: acquire intents on `tables`, run
    * `body` (child merges — return the pins to publish), publish them
    * atomically, release the intents. */
  def transact(spark: SparkSession, root: String, tables: Seq[String],
               graceMs: Long = DefaultIntentGraceMs)
              (body: => Map[String, Long]): Long =
    withTableIntents(spark, root, tables, graceMs) {
      val pins = body
      require(pins.keySet.subsetOf(tables.toSet),
        s"transaction declared tables ${tables.sorted.mkString(", ")} but " +
          s"pinned ${pins.keys.toSeq.sorted.mkString(", ")} — every " +
          "pinned table must be declared (the intent guard covers only " +
          "declared tables)")
      publishPins(spark, root, pins)
    }

  /** Read table `name` at the seq the ROOT head pins — the consistent
    * cross-table view (resolve [[headPins]] yourself to read several
    * tables under ONE root resolution). */
  def readPinned(spark: SparkSession, root: String,
                 name: String): DataFrame =
    readPinned(spark, root, name, headPins(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no committed table group at $root"))._2)

  /** GROUP-SCOPE change feed: member `name`'s changes between two ROOT
    * commits, the span endpoints resolved from the root log's PINS —
    * so a multi-table consumer diffing several members between the
    * same two root seqs sees one ATOMIC span per transaction set: a
    * transaction is either inside every member's span or inside none
    * (the per-member watermark a naive consumer keeps can tear here —
    * member A's span covering a transaction member B's span omits).
    * A member the older root does not pin surfaces as all-inserts of
    * its newer pinned state; a member whose pin did not move yields
    * an EMPTY feed without reading data. Cost: two kilobyte root
    * commit reads + [[ManifestMergeSink.changesBetween]]'s
    * change-bounded member diff. Requires both root commits retained
    * ([[vacuumGroup]]'s margin — the same reader contract as every
    * as-of consumer). */
  def changesBetween(spark: SparkSession, root: String, name: String,
                     rootFrom: Long, rootTo: Long, key: String,
                     fields: Seq[String]): DataFrame = {
    require(rootFrom < rootTo,
      s"rootFrom=$rootFrom must precede rootTo=$rootTo")
    val r = new Path(root)
    val fs = fsOf(spark, r)
    def pinsAt(seq: Long): GroupState =
      CommitLog.read(fs, r, seq).filter(isValid).map(parse).getOrElse(
        throw new IllegalArgumentException(
          s"no retained root commit $seq at $root (retained: " +
            s"${CommitLog.seqs(fs, r).mkString(", ")})"))
    val to = pinsAt(rootTo).pins.getOrElse(name,
      throw new IllegalArgumentException(
        s"table $name is not pinned at root seq $rootTo of $root"))
    def fullAsInserts(limit0: Boolean): DataFrame = {
      val d = ManifestMergeSink
        .readManifestedAt(spark, tablePath(root, name), to)
        .select(col(key) +: fields.map(col): _*)
        .withColumn("_change", lit("insert"))
      if (limit0) d.limit(0) else d
    }
    pinsAt(rootFrom).pins.get(name) match {
      case Some(from) if from == to => fullAsInserts(limit0 = true)
      case Some(from) =>
        ManifestMergeSink.changesBetween(spark, tablePath(root, name),
          from, to, key, fields)
      case None => fullAsInserts(limit0 = false)
    }
  }

  /** Read table `name` under an EXPLICIT pin set (one root resolution
    * shared across tables — the snapshot-consistent reader loop). */
  def readPinned(spark: SparkSession, root: String, name: String,
                 pins: GroupState): DataFrame = {
    val seq = pins.pins.getOrElse(name,
      throw new IllegalArgumentException(
        s"table $name is not pinned at $root (pinned: " +
          s"${pins.pins.keys.toSeq.sorted.mkString(", ")})"))
    ManifestMergeSink.readManifestedAt(spark, tablePath(root, name), seq)
  }
}
