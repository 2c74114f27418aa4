package graft

import org.apache.spark.sql.functions._
import graft.operators.Cdc

/** CDC semantics on hand-built changelogs: last-writer-wins, tombstones,
  * out-of-order arrival, ts ties de-tied by event_id, interval chaining,
  * and incremental-fold ≡ batch-apply (with replay no-op). */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  // (user_id, ts-second, event_id, op, status, amount) — builds the
  // changelog schema applyChangelog expects.
  private def log(rows: (Long, Int, Long, String, String, Double)*) =
    rows.toDF("user_id", "sec", "event_id", "op", "status", "amount")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("sec")))
      .drop("sec")
      .select(col("user_id"), col("ts"), col("event_id"), col("op"),
        col("status"), col("amount"))

  test("applyChangelog: last writer wins even when changes arrive out of order") {
    val out = Cdc.applyChangelog(log(
      (1L, 30, 103L, "U", "c", 3.0),  // latest, listed first
      (1L, 10, 101L, "U", "a", 1.0),
      (1L, 20, 102L, "U", "b", 2.0))).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("status") == "c")
    assert(out.head.getAs[Long]("n_ops") == 3)
    assert(out.head.getAs[Long]("n_deletes") == 0)
  }

  test("applyChangelog: trailing delete removes the key; re-insert after delete keeps it") {
    val out = Cdc.applyChangelog(log(
      (1L, 10, 1L, "U", "a", 1.0), (1L, 20, 2L, "D", "x", 0.0),
      (2L, 10, 3L, "U", "a", 1.0), (2L, 20, 4L, "D", "x", 0.0),
      (2L, 30, 5L, "U", "b", 2.0)))
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(!out.contains(1L), "key whose last op is D must be absent")
    assert(out(2L).getAs[String]("status") == "b")
    assert(out(2L).getAs[Long]("n_deletes") == 1)
  }

  test("applyChangelog: equal timestamps de-tie on event_id") {
    val out = Cdc.applyChangelog(log(
      (1L, 10, 2L, "U", "high", 2.0),
      (1L, 10, 1L, "U", "low", 1.0))).collect()
    assert(out.head.getAs[String]("status") == "high")
  }

  test("scd2History: intervals chain, deletes close without emitting, versions keep holes") {
    val rows = Cdc.scd2History(log(
      (1L, 10, 1L, "U", "a", 1.0),
      (1L, 20, 2L, "U", "b", 2.0),
      (1L, 30, 3L, "D", "x", 0.0),
      (1L, 40, 4L, "U", "c", 3.0)))
      .orderBy("version").collect()
    assert(rows.map(_.getAs[Long]("version")).toSeq == Seq(1L, 2L, 4L),
      "delete occupies version 3 but emits no row")
    // interval 1 closes at change 2; interval 2 closes at the DELETE's ts
    assert(rows(0).getAs[java.sql.Timestamp]("valid_to") ==
      rows(1).getAs[java.sql.Timestamp]("valid_from"))
    assert(rows(1).getAs[java.sql.Timestamp]("valid_to").getTime / 1000 % 100 == 30)
    assert(rows(1).getAs[Boolean]("is_current") == false)
    assert(rows(2).getAs[java.sql.Timestamp]("valid_to") == null)
    assert(rows(2).getAs[Boolean]("is_current"))
  }

  test("incremental fold ≡ batch apply, and a whole-batch replay is a no-op") {
    val full = log(
      (1L, 10, 1L, "U", "a", 1.0), (1L, 20, 2L, "U", "b", 2.0),
      (2L, 10, 3L, "U", "a", 1.0), (2L, 30, 4L, "D", "x", 0.0),
      (3L, 30, 5L, "U", "z", 9.0))
    val b1 = full.filter(col("event_id") <= 3)
    val b2 = full.filter(col("event_id") > 3)
      .unionByName(full.filter(col("event_id") === 1)) // re-delivery
    // localCheckpoint between folds exactly as q121 does: the snapshot in
    // production is a REOPENED table, so its lineage never aliases the
    // incoming batch's (without it Spark's self-join ambiguity check trips,
    // since b1/b2 share the hand-built frame)
    val snap0 = Cdc.foldCdcBatch(Cdc.emptySnapshot(spark), b1).localCheckpoint()
    val snap1 = Cdc.foldCdcBatch(snap0, b2).localCheckpoint()
    val snapReplayed = Cdc.foldCdcBatch(snap1, b2).localCheckpoint() // replay must no-op
    val finalRows = snapReplayed.filter(col("op") =!= "D")
      .select("user_id", "status", "amount", "n_ops", "n_deletes")
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val batchRows = Cdc.applyChangelog(full)
      .select("user_id", "status", "amount", "n_ops", "n_deletes")
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(finalRows == batchRows)
    // tombstone retention: user 2 is filtered from the report but still
    // holds its counters in the snapshot
    val tomb = snapReplayed.filter(col("user_id") === 2L).collect().head
    assert(tomb.getAs[String]("op") == "D" && tomb.getAs[Long]("n_ops") == 2)
  }

  test("cdcIngest: disk-backed fold equals batch apply; replayed batch no-ops without a ledger") {
    val full = log(
      (1L, 10, 1L, "U", "a", 1.0), (1L, 20, 2L, "U", "b", 2.0),
      (2L, 10, 3L, "U", "a", 1.0), (2L, 30, 4L, "D", "x", 0.0))
    val b1 = full.filter(col("event_id") <= 3).localCheckpoint()
    val b2 = full.filter(col("event_id") > 3).localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("graft_cdc_ingest_")
    try {
      val p = s"$base/cdc"
      Cdc.cdcIngest(spark, p, b1)
      Cdc.cdcIngest(spark, p, b2)
      Cdc.cdcIngest(spark, p, b2) // replay: the watermark is the ledger
      val got = graft.sinks.SnapshotState.read(spark, p).get
        .filter(col("op") =!= "D")
        .select("user_id", "status", "amount", "n_ops", "n_deletes")
        .orderBy("user_id").collect().map(_.toSeq).toSeq
      val want = Cdc.applyChangelog(full)
        .select("user_id", "status", "amount", "n_ops", "n_deletes")
        .orderBy("user_id").collect().map(_.toSeq).toSeq
      assert(got == want)
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  test("q115/q116/q121 smoke on the fixture: q121 incremental equals q115 batch") {
    val a = Cdc.q115CdcSnapshot(spark, sf).collect().map(_.toSeq).toSeq
    val b = Cdc.q121CdcIngest(spark, sf).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
    assert(Cdc.q116Scd2History(spark, sf).count() > 0)
  }

  test("replica check (q222): a duplicated key is out of sync, not matched twice") {
    import graft.operators.MergeQueries.sameRows
    def rows(r: (Long, Option[Long])*) = r.toDF("doc_id", "len")
    val want = rows(1L -> Some(10L), 2L -> None, 3L -> Some(30L))
    assert(sameRows(rows(3L -> Some(30L), 1L -> Some(10L), 2L -> None), want,
      "doc_id", "len"), "equal rows in any order are in sync (null-safe)")
    // one side holds a key twice: every copy matches the same counterpart
    assert(!sameRows(rows(1L -> Some(10L), 1L -> Some(10L), 2L -> None,
      3L -> Some(30L)), want, "doc_id", "len"))
    assert(!sameRows(want, rows(1L -> Some(10L), 1L -> Some(10L), 2L -> None,
      3L -> Some(30L)), "doc_id", "len"))
    // equal row counts, each side duplicating a different key
    assert(!sameRows(rows(1L -> Some(10L), 1L -> Some(10L), 3L -> Some(30L)),
      rows(1L -> Some(10L), 3L -> Some(30L), 3L -> Some(30L)), "doc_id", "len"))
    // the plain failures still show: a value, a missing and an extra key
    assert(!sameRows(rows(1L -> Some(11L), 2L -> None, 3L -> Some(30L)), want,
      "doc_id", "len"))
    assert(!sameRows(rows(1L -> Some(10L), 2L -> None), want, "doc_id", "len"))
    assert(!sameRows(rows(1L -> Some(10L), 2L -> None, 3L -> Some(30L),
      4L -> None), want, "doc_id", "len"))
    assert(sameRows(rows(), rows(), "doc_id", "len"))
  }
}
