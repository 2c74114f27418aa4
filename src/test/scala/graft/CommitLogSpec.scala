package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.sinks._

/** The commit log's CAS fine print under adversarial schedules — the
  * windows the sink-level specs (LedgeredState / VersionCatalog /
  * ManifestMergeSink) drive only the happy side of. The operative
  * contract: exactly one writer wins a slot, a loser is LOUD, and an
  * in-flight writer's half-written slot is never mistaken for a crashed
  * one (the slow-writer/crashed-writer ambiguity is resolved by AGE —
  * see [[CommitLog.DefaultReclaimGraceMs]]). Also pinned here: the one
  * retry loop every client publishes through ([[CommitLog.retrying]]),
  * and the commit formats' bytes under the shared framing. */
class CommitLogSpec extends SparkSpec {

  private val valid = (s: String) => s.endsWith("\nEND")
  private def content(tag: String) = s"payload-$tag\nEND"

  private def withRoot(f: (org.apache.hadoop.fs.FileSystem, Path) => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_clog_")
    val root = new Path(s"$base/log")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try f(fs, root)
    finally fs.delete(new Path(base.toString), true)
  }

  private def slot(root: Path, seq: Long) =
    new Path(s"$root/_commits/${"%020d".format(seq)}")

  test("a slow concurrent writer's in-flight slot conflicts — it is never reclaimed young") {
    withRoot { (fs, root) =>
      CommitLog.tryAppend(fs, root, 0L, content("base"), valid)
      // writer W1: create() returned, content not yet streamed — the
      // byte state a crashed writer would also leave
      fs.mkdirs(new Path(root, "_commits"))
      val w1 = fs.create(slot(root, 2L), false)
      // writer W2 at the same head: the young invalid slot must read as
      // an in-flight writer, not reclaimable residue — deleting it here
      // would let BOTH writers return success (the silent lost update)
      val e = intercept[CommitLog.CommitConflictException] {
        CommitLog.tryAppend(fs, root, 1L, content("w2"), valid)
      }
      assert(e.getMessage.contains("reclaim grace"))
      assert(fs.exists(slot(root, 2L)), "W1's in-flight slot must survive")
      // W1 finishes streaming its content and closes — its commit wins
      w1.write(content("w1").getBytes("UTF-8")); w1.close()
      assert(CommitLog.head(fs, root, valid).contains(2L -> content("w1")),
        "the slow writer's commit must land intact")
      // W2 retries against the NEW head and lands in the next slot
      assert(CommitLog.tryAppend(fs, root, 2L, content("w2"), valid) == 3L)
      assert(CommitLog.head(fs, root, valid).contains(3L -> content("w2")))
    }
  }

  test("aged invalid residue (a genuinely crashed writer) is reclaimed") {
    withRoot { (fs, root) =>
      CommitLog.tryAppend(fs, root, 0L, content("base"), valid)
      val out = fs.create(slot(root, 2L), false)
      out.write("truncated-no-sentinel".getBytes("UTF-8")); out.close()
      fs.setTimes(slot(root, 2L), System.currentTimeMillis() - 120000L, -1L)
      // readers skip the residue; the next writer reclaims the slot
      assert(CommitLog.head(fs, root, valid).contains(1L -> content("base")))
      assert(CommitLog.tryAppend(fs, root, 1L, content("w2"), valid) == 2L)
      assert(CommitLog.head(fs, root, valid).contains(2L -> content("w2")))
    }
  }

  test("reclaim refuses an unvouched store scheme; the capability flag unlocks it") {
    // the class doc's lost-update window (reclaimer publishes, then the
    // stalled owner's unconditional PUT overwrites it) requires a
    // RECLAIM on a store with neither inode nor conditional-PUT
    // semantics — so the reclaim path must fail loudly there unless the
    // operator asserts the capability (graft.commitlog.conditional-put)
    withRoot { (localFs, root) =>
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      // FilterFileSystem delegates getConf to the WRAPPED fs — pin our
      // private conf so the flag flip below stays test-local
      val fs = new org.apache.hadoop.fs.FilterFileSystem(localFs) {
        override def getScheme: String = "mockobj" // unvouched scheme
        override def getConf: org.apache.hadoop.conf.Configuration = conf
      }
      CommitLog.tryAppend(fs, root, 0L, content("base"), valid)
      val out = fs.create(slot(root, 2L), false)
      out.write("truncated-no-sentinel".getBytes("UTF-8")); out.close()
      fs.setTimes(slot(root, 2L), System.currentTimeMillis() - 120000L, -1L)
      val e = intercept[CommitLog.ReclaimUnsupportedException] {
        CommitLog.tryAppend(fs, root, 1L, content("w2"), valid)
      }
      assert(e.getMessage.contains(CommitLog.ConditionalPutProp), e.getMessage)
      assert(fs.exists(slot(root, 2L)), "the residue must survive the refusal")
      // same store, capability asserted → the reclaim proceeds
      conf.setBoolean(CommitLog.ConditionalPutProp, true)
      assert(CommitLog.tryAppend(fs, root, 1L, content("w2"), valid) == 2L)
      assert(CommitLog.head(fs, root, valid).contains(2L -> content("w2")))
    }
  }

  test("a VALID slot is never deleted or rewritten, whatever its age") {
    withRoot { (fs, root) =>
      CommitLog.tryAppend(fs, root, 0L, content("base"), valid)
      fs.setTimes(slot(root, 1L), 1000L, -1L) // ancient
      intercept[CommitLog.CommitConflictException] {
        CommitLog.tryAppend(fs, root, 0L, content("late"), valid)
      }
      assert(CommitLog.head(fs, root, valid).contains(1L -> content("base")))
    }
  }

  test("the CAS holds when a competitor lands BETWEEN the precheck and the create") {
    // the seam a store without conditional PUT exposes: the exists
    // precheck passes, and the winner's file lands in the instant
    // before OUR create — the create itself must be the arbiter. An
    // injected FilterFileSystem makes that interleave deterministic.
    // getScheme is overridden so tryAppend takes the REMOTE branch
    // (plain create(overwrite=false)) — on file:// the O_EXCL slot
    // reservation makes this window impossible by construction.
    withRoot { (fs, root) =>
      CommitLog.tryAppend(fs, root, 0L, content("base"), valid)
      var raced = false
      val racy = new org.apache.hadoop.fs.FilterFileSystem(fs) {
        override def getScheme: String = "mockstore"
        override def create(f: Path,
                            permission: org.apache.hadoop.fs.permission.FsPermission,
                            overwrite: Boolean, bufferSize: Int,
                            replication: Short, blockSize: Long,
                            progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
          if (!overwrite && f.toString.contains("_commits") && !raced) {
            raced = true
            // the competitor publishes the SAME slot right now
            CommitLog.tryAppend(fs, root, 1L, content("winner"), valid)
          }
          super.create(f, permission, overwrite, bufferSize, replication,
            blockSize, progress)
        }
      }
      val e = intercept[CommitLog.CommitConflictException] {
        CommitLog.tryAppend(racy, root, 1L, content("loser"), valid)
      }
      assert(raced, "the injected race must have fired")
      assert(e.getMessage.contains("re-read and retry"), e.getMessage)
      // the winner's commit is intact — never clobbered by the loser
      assert(CommitLog.head(fs, root, valid).contains(2L -> content("winner")))
      // and the loser's retry against the fresh head lands cleanly
      assert(CommitLog.tryAppend(fs, root, 2L, content("loser"), valid) == 3L)
      assert(CommitLog.head(fs, root, valid).contains(3L -> content("loser")))
    }
  }

  test("real threads: exactly one winner per slot under simultaneous appends") {
    // the local-FS CAS is O_EXCL-atomic, not check-then-act: eight
    // threads releasing on a barrier race ONE slot, and exactly one
    // may return success — a shared slot (the pre-fix local behavior:
    // both pass the exists check, the second truncates the first)
    // fails this immediately
    withRoot { (fs, root) =>
      CommitLog.tryAppend(fs, root, 0L, content("base"), valid)
      import java.util.concurrent._
      val n = 8
      val pool = Executors.newFixedThreadPool(n)
      try {
        val barrier = new CyclicBarrier(n)
        val results = (1 to n).map { i =>
          pool.submit(new Callable[Option[String]] {
            def call(): Option[String] = {
              barrier.await()
              try { CommitLog.tryAppend(fs, root, 1L, content(s"w$i"), valid)
                    Some(s"w$i") }
              catch { case _: CommitLog.CommitConflictException => None }
            }
          })
        }
        val winners = results.flatMap(_.get(60, TimeUnit.SECONDS))
        assert(winners.size == 1, s"one slot, one winner — got $winners")
        val (s, c) = CommitLog.head(fs, root, valid).get
        assert(s == 2L && c == content(winners.head),
          "the winner's bytes must land intact, never truncated by a loser")
      } finally pool.shutdown()
    }
  }

  test("sweep honors the margin and never touches the head") {
    withRoot { (fs, root) =>
      (0L until 5L).foreach(s =>
        CommitLog.tryAppend(fs, root, s, content(s"c${s + 1}"), valid))
      assert(CommitLog.sweep(fs, root, 4L) == Seq(1L, 2L, 3L))
      assert(CommitLog.seqs(fs, root) == Seq(4L, 5L),
        "the margin commit and the head must survive")
      assert(CommitLog.sweep(fs, root, 99L) == Seq(4L),
        "sweep past head must still keep the head")
      assert(CommitLog.seqs(fs, root) == Seq(5L))
    }
  }

  test("remote branch: a stalled owner's late PUT never silently replaces a reclaimer's commit") {
    // the else-branch analog of the file:// stalled-owner test: on a
    // store where create and the content landing are separate (HDFS;
    // S3A without conditional PUT, where close() is an unconditional
    // object PUT), the owner's resumed write CAN land over the
    // reclaimer's published commit — the post-write read-back must
    // turn that into a loud conflict, never success
    withRoot { (fs, root) =>
      // the operator vouched the store (else the reclaim refuses — see
      // the capability-gate test); the read-back below is the
      // defense-in-depth layer behind a wrong vouch
      val vouched = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      vouched.setBoolean(CommitLog.ConditionalPutProp, true)
      val remote = new org.apache.hadoop.fs.FilterFileSystem(fs) {
        override def getScheme: String = "mockstore"
        override def getConf: org.apache.hadoop.conf.Configuration = vouched
      }
      CommitLog.tryAppend(remote, root, 0L, content("base"), valid)
      val e = intercept[CommitLog.CommitConflictException] {
        CommitLog.tryAppend(remote, root, 1L, content("stalled-owner"), valid,
          beforeStream = () => {
            fs.setTimes(slot(root, 2L),
              System.currentTimeMillis() - 120000L, -1L)
            CommitLog.tryAppend(remote, root, 1L, content("reclaimer"), valid)
          })
      }
      assert(e.getMessage.contains("reclaimed"), e.getMessage)
      assert(CommitLog.head(fs, root, valid).contains(2L -> content("reclaimer")),
        "the reclaimer's commit must survive the stalled owner's late PUT")
    }
  }

  test("an owner stalled past the grace NEVER truncates a reclaimer's commit") {
    // the write handle is obtained atomically WITH the O_EXCL
    // reservation (CREATE_NEW), so it is pinned to the reservation's
    // inode: when a reclaimer unlinks the aged empty reservation and
    // publishes its own commit in the slot, the resumed owner's bytes
    // go to the ORPHANED inode — and the owner must report a loud
    // conflict (read-back mismatch), never success, never truncation.
    // Pre-fix, the owner reopened the PATH with overwrite=true and
    // silently clobbered the reclaimer's valid commit; both returned
    // success — the exact lost update the CAS exists to prevent.
    withRoot { (fs, root) =>
      CommitLog.tryAppend(fs, root, 0L, content("base"), valid)
      val e = intercept[CommitLog.CommitConflictException] {
        CommitLog.tryAppend(fs, root, 1L, content("stalled-owner"), valid,
          beforeStream = () => {
            // the owner stalls here (GC pause / NFS hang) long enough
            // that its empty reservation ages past the reclaim grace…
            fs.setTimes(slot(root, 2L),
              System.currentTimeMillis() - 120000L, -1L)
            // …and a second writer reclaims the slot and publishes
            CommitLog.tryAppend(fs, root, 1L, content("reclaimer"), valid)
          })
      }
      assert(e.getMessage.contains("reclaimed"), e.getMessage)
      assert(CommitLog.head(fs, root, valid).contains(2L -> content("reclaimer")),
        "the reclaimer's commit must survive the stalled owner's resume")
      // the owner's retry against the fresh head lands in the next slot
      assert(CommitLog.tryAppend(fs, root, 2L,
        content("stalled-owner"), valid) == 3L)
    }
  }

  // ---- the one retry loop every commit client publishes through ----

  private def conflict(msg: String) = new CommitLog.CommitConflictException(msg)

  test("retrying: a body that always conflicts runs MaxAttempts times, then the last conflict propagates") {
    var runs = 0
    val e = intercept[CommitLog.CommitConflictException] {
      CommitLog.retrying[Unit] { runs += 1; throw conflict(s"lost run $runs") }
    }
    assert(CommitLog.MaxAttempts == 20)
    assert(runs == 20)
    assert(e.getMessage == "lost run 20", "the LAST conflict is rethrown")
  }

  test("retrying: any other exception ends the loop on its first run, unretried") {
    var runs = 0
    val e = intercept[IllegalStateException] {
      CommitLog.retrying[Unit] { runs += 1; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(runs == 1)
  }

  test("retrying: a body that conflicts twice and then succeeds returns its value") {
    var runs = 0
    val v = CommitLog.retrying {
      runs += 1
      if (runs <= 2) throw conflict(s"lost run $runs")
      s"won on run $runs"
    }
    assert(v == "won on run 3")
    assert(runs == 3)
  }

  test("onConflict tidies on a lost slot only, and inside retrying once per lost attempt") {
    var tidied = 0
    assert(CommitLog.onConflict(tidied += 1)(7) == 7)
    assert(tidied == 0, "a won slot tidies nothing")
    intercept[IllegalStateException] {
      CommitLog.onConflict(tidied += 1)(throw new IllegalStateException("io"))
    }
    assert(tidied == 0, "only a conflict is a lost slot")
    var runs = 0
    val v = CommitLog.retrying {
      runs += 1
      CommitLog.onConflict(tidied += 1) {
        if (runs <= 3) throw conflict("lost")
        runs
      }
    }
    assert(v == 4 && tidied == 3)
  }

  /** Plant a young, unparsable file in commit slot `seq`: every writer
    * that read head `seq - 1` loses that slot (a writer that may still
    * be streaming owns it until the reclaim grace passes). */
  private def plantYoungResidue(fs: org.apache.hadoop.fs.FileSystem,
                                root: Path, seq: Long): Unit = {
    val out = fs.create(slot(root, seq), false)
    out.write("truncated-no-sentinel".getBytes("UTF-8")); out.close()
  }

  private def gens(fs: org.apache.hadoop.fs.FileSystem, root: Path): Set[String] =
    fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("g-")).toSet

  test("a write-once client that keeps losing gives up after MaxAttempts and deletes its unpublished generation") {
    withRoot { (fs, root) =>
      val df = spark.range(8).withColumn("p", col("id") % 2)
      DirManifest.writeCommit(df, root.toString, "p", append = false)
      val before = gens(fs, root)
      plantYoungResidue(fs, root, 2L)
      val e = intercept[CommitLog.CommitConflictException] {
        DirManifest.writeCommit(df, root.toString, "p", append = true)
      }
      assert(e.getMessage.contains("reclaim grace"), e.getMessage)
      assert(gens(fs, root) == before, "the unpublished generation is deleted")
      assert(DirManifest.head(fs, root).map(_._1).contains(1L))
    }
  }

  test("mergeIntoManifested: repoints count against the same MaxAttempts; giving up deletes the landed generation") {
    withRoot { (fs, root) =>
      val ss = spark; import ss.implicits._
      ManifestMergeSink.mergeIntoManifested(spark, root.toString,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "id", Seq("v"),
        nBuckets = 2)
      val before = gens(fs, root)
      plantYoungResidue(fs, root, 2L)
      // every lost publish finds the head still at seq 1 with this
      // writer's buckets untouched — the disjoint case, so each retry is
      // a metadata-only repoint; only the shared limit ends it
      val e = intercept[CommitLog.CommitConflictException] {
        ManifestMergeSink.mergeIntoManifested(spark, root.toString,
          Seq((2L, "c")).toDF("id", "v"), "id", Seq("v"), nBuckets = 2)
      }
      assert(e.getMessage.contains("reclaim grace"), e.getMessage)
      assert(gens(fs, root) == before, "the landed generation is deleted")
      assert(ManifestMergeSink.headState(spark, root.toString).map(_._1)
        .contains(1L))
    }
  }

  // ---- the commit formats: one framing helper, unchanged bytes ----

  test("every commit format renders byte-identical to its v1 bytes, and reads them back") {
    // each literal is what the format's renderer wrote before the
    // Header/END framing moved into CommitLog.frame: the on-disk
    // formats did not change, so no migration exists or is needed
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("updatedAt", TimestampType)))
    val dm = DirManifest.DmState(
      Map(3L -> Seq("g-aaaa0001/list_id=3", "g-bbbb0002/list_id=3"),
        0L -> Seq("g-aaaa0001/list_id=0")),
      Map("means" -> "m-cccc0003"))
    val tg = TableGroup.GroupState(Map("orders" -> 4L, "meta" -> 2L))
    val vc = Seq(VersionCatalog.Entry(2L, "d-bbbb0002"),
      VersionCatalog.Entry(1L, "d-aaaa0001"))
    val ms = ManifestMergeSink.ManifestState(schema, 4,
      Map(2L -> "g-bbbb0002/pb=2", 0L -> "g-aaaa0001/pb=0"), Map("p1" -> 7L))
    val ls = LedgeredState.State(Set("b2", "b1"),
      Map("vocab" -> "g-aaaa0001/vocab", "meta" -> "g-aaaa0001/meta"))
    val v1DirManifest =
      "graft-dirmanifest-v1\nP\t0\tg-aaaa0001/list_id=0\nP\t3\tg-aaaa0001/list_id=3\nP\t3\tg-bbbb0002/list_id=3\nX\tmeans\tm-cccc0003\nEND"
    val v1TableGroup =
      "graft-tablegroup-v1\nP\tmeta\t2\nP\torders\t4\nEND"
    val v1VersionCatalog =
      "graft-catalog-v1\n1\td-aaaa0001\n2\td-bbbb0002\nEND"
    val v1ManifestMergeSink =
      "graft-merge-manifest-v1\nS\t{\"type\":\"struct\",\"fields\":[" +
        "{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}," +
        "{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}," +
        "{\"name\":\"updatedAt\",\"type\":\"timestamp\",\"nullable\":true," +
        "\"metadata\":{}}]}\nN\t4\nB\t0\tg-aaaa0001/pb=0\nB\t2\tg-bbbb0002/pb=2\n" +
        "T\tp1\t7\nEND"
    val v1LedgeredState =
      "graft-ledgered-v1\nB\tb1\nB\tb2\nP\tmeta\tg-aaaa0001/meta\nP\tvocab\tg-aaaa0001/vocab\nEND"
    val v1SnapshotState =
      "graft-snapshot-v1\nD\tg-aaaa0001\nEND"
    Seq(
      DirManifest.render(dm) -> v1DirManifest,
      TableGroup.render(tg) -> v1TableGroup,
      VersionCatalog.render(vc) -> v1VersionCatalog,
      ManifestMergeSink.render(ms) -> v1ManifestMergeSink,
      LedgeredState.render(ls) -> v1LedgeredState,
      SnapshotState.render("g-aaaa0001") -> v1SnapshotState
    ).foreach { case (got, want) =>
      assert(got.getBytes("UTF-8").sameElements(want.getBytes("UTF-8")),
        s"rendered:\n$got\nexpected:\n$want")
    }
    // the v1 bytes, published as commit 1, read back through each
    // format's own reader (which checks the framing first)
    def committed(text: String)(check: String => Unit): Unit =
      withRoot { (fs, root) =>
        fs.mkdirs(new Path(root, "_commits"))
        val out = fs.create(slot(root, 1L), false)
        out.write(text.getBytes("UTF-8")); out.close()
        check(root.toString)
      }
    committed(v1DirManifest) { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(DirManifest.head(fs, p).contains(1L -> dm))
    }
    committed(v1TableGroup) { r =>
      assert(TableGroup.headPins(spark, r).contains(1L -> tg))
    }
    committed(v1VersionCatalog) { r =>
      assert(VersionCatalog.headState(spark, r) == (1L -> vc.sortBy(_.version)))
    }
    committed(v1ManifestMergeSink) { r =>
      assert(ManifestMergeSink.headState(spark, r).contains(1L -> ms))
    }
    committed(v1LedgeredState) { r =>
      assert(LedgeredState.absorbed(spark, r, "b1") &&
        LedgeredState.absorbed(spark, r, "b2") &&
        !LedgeredState.absorbed(spark, r, "b3"))
    }
  }
}
