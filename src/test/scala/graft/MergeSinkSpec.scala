package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.MergeSink
import graft.sources.SyntheticSource
import graft.jobs.BulkUpdateJob

/** Reference-parity semantics for the merge sink (SURVEY.md §2A fine print:
  * null-skip, upsert, updatedAt, duplicate-key fold, guard ladder, counts —
  * mirror of tests/test_mongo.py's value cases). */
class MergeSinkSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq("f1", "f2")

  private def df(rows: Seq[(String, java.lang.Double, java.lang.Double)]) =
    rows.toDF("k", "f1", "f2")

  private def withTs(d: org.apache.spark.sql.DataFrame) =
    d.withColumn("updatedAt", to_timestamp(lit("2020-01-01 00:00:00")))

  test("null-skip: a null update field never overwrites a stored value (mongo.py:60-63)") {
    val target = withTs(df(Seq(("a", 1.0, 2.0))))
    val updates = df(Seq(("a", null, 9.0)))
    val out = MergeSink.mergePlan(target, updates, "k", fields).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("f1") == 1.0) // preserved
    assert(out.head.getAs[Double]("f2") == 9.0) // overwritten
  }

  test("upsert: unmatched keys insert with only their non-null fields (mongo.py:79)") {
    val target = withTs(df(Seq(("a", 1.0, 2.0))))
    val updates = df(Seq(("b", null, 5.0)))
    val out = MergeSink.mergePlan(target, updates, "k", fields)
      .orderBy("k").collect()
    assert(out.length == 2)
    val b = out(1)
    assert(b.getAs[String]("k") == "b")
    assert(b.isNullAt(b.fieldIndex("f1")))
    assert(b.getAs[Double]("f2") == 5.0)
  }

  test("updatedAt stamped on touched rows only (mongo.py:64-66)") {
    val target = withTs(df(Seq(("a", 1.0, 2.0), ("c", 3.0, 4.0))))
    val updates = df(Seq(("a", 7.0, 7.0)))
    val now = to_timestamp(lit("2024-06-01 00:00:00"))
    val out = MergeSink.mergePlan(target, updates, "k", fields, now = now)
      .orderBy("k").collect()
    assert(out(0).getAs[java.sql.Timestamp]("updatedAt").toString.startsWith("2024-06-01"))
    assert(out(1).getAs[java.sql.Timestamp]("updatedAt").toString.startsWith("2020-01-01"))
  }

  test("null keys are dropped, not failed (guard ladder, mongo.py:46-50)") {
    val target = withTs(df(Seq(("a", 1.0, 2.0))))
    val updates = df(Seq((null, 9.0, 9.0), ("a", 5.0, null)))
    val out = MergeSink.mergePlan(target, updates, "k", fields).collect()
    assert(out.length == 1 && out.head.getAs[Double]("f1") == 5.0)
  }

  test("duplicate keys fold: per-field last non-null in order (SURVEY §2A item 5)") {
    val updates = Seq(
      ("a", java.lang.Double.valueOf(1.0), null.asInstanceOf[java.lang.Double], 1L),
      ("a", null.asInstanceOf[java.lang.Double], java.lang.Double.valueOf(2.0), 2L),
      ("a", java.lang.Double.valueOf(3.0), null.asInstanceOf[java.lang.Double], 3L)
    ).toDF("k", "f1", "f2", "seq")
    val folded = MergeSink.collapseUpdates(updates, "k", fields, Some("seq")).collect()
    assert(folded.length == 1)
    assert(folded.head.getAs[Double]("f1") == 3.0) // last non-null (seq=3)
    assert(folded.head.getAs[Double]("f2") == 2.0) // survives from seq=2 (null-skip)
  }

  test("updatesUnique fast path: identical snapshot and counts to the fold path on key-unique input") {
    // key-unique update set (the induction-derive shape): the fold window
    // is an identity on it, so skipping it (updatesUnique = true) must
    // produce byte-identical snapshots and the same observed counts
    val dir = Files.createTempDirectory("graft_uniq").toString
    val target = withTs(df(Seq(("a", 1.0, 2.0), ("b", 3.0, 4.0))))
    target.write.parquet(s"$dir/folded")
    target.write.parquet(s"$dir/unique")
    val updates = df(Seq(("a", null, 9.0), ("z", 1.0, 1.0)))
    val sF = MergeSink.mergeInto(spark, s"$dir/folded", updates, "k", fields)
    val sU = MergeSink.mergeInto(spark, s"$dir/unique", updates, "k", fields,
      updatesUnique = true)
    assert(sF == sU)
    val a = spark.read.parquet(s"$dir/folded")
      .drop("updatedAt").orderBy("k").collect().toSeq
    val b = spark.read.parquet(s"$dir/unique")
      .drop("updatedAt").orderBy("k").collect().toSeq
    assert(a == b)
    // normalizeUnique drops null keys and projects key+fields, exactly
    // like the fold path's shape contract
    val norm = MergeSink.normalizeUnique(
      df(Seq((null, 9.0, 9.0), ("a", 5.0, null))), "k", fields).collect()
    assert(norm.length == 1 && norm.head.getAs[String]("k") == "a")
  }

  test("stats: matched/modified/upserted counts (mongo.py:140-145)") {
    val target = withTs(df(Seq(("a", 1.0, 2.0), ("b", 3.0, 4.0), ("c", 5.0, 6.0))))
    val updates = df(Seq(
      ("a", 9.0, 9.0),   // matched + modified
      ("b", 3.0, 4.0),   // matched, unchanged
      ("z", 1.0, 1.0)))  // upserted
    val s = MergeSink.mergeStats(target, updates, "k", fields)
    assert(s == MergeSink.MergeStats(nMatched = 2, nModified = 1, nUpserted = 1))
    assert(s.nInserted == 1)
  }

  test("merge idempotence: re-applying the same update set changes nothing") {
    val target = withTs(df(Seq(("a", 1.0, 2.0), ("b", 3.0, 4.0))))
    val updates = df(Seq(("a", 9.0, null), ("z", 1.0, 1.0)))
    val now = to_timestamp(lit("2024-06-01 00:00:00"))
    val once = MergeSink.mergePlan(target, updates, "k", fields, now = now)
    val twice = MergeSink.mergePlan(once, updates, "k", fields, now = now)
    val a = once.orderBy("k").collect().toSeq
    val b = twice.orderBy("k").collect().toSeq
    assert(a == b)
    val s2 = MergeSink.mergeStats(once, updates, "k", fields)
    assert(s2.nModified == 0 && s2.nUpserted == 0)
  }

  test("end-to-end snapshot merge with atomic swap (BulkUpdateJob over generated data)") {
    val dir = Files.createTempDirectory("graft_merge").toString
    val updatesPath = s"$dir/updates"
    val targetPath = s"$dir/collection"
    // round 1: everything upserts into a fresh collection
    SyntheticSource.write(SyntheticSource.generate(spark, 500, 4, seed = 1, nullFraction = 0.2), updatesPath)
    val s1 = BulkUpdateJob.run(spark, updatesPath, targetPath, Some(4))
    assert(s1 == MergeSink.MergeStats(0, 0, 500))
    assert(spark.read.parquet(targetPath).count() == 500)
    // round 2: same ids, new values -> all matched, none upserted
    SyntheticSource.write(SyntheticSource.generate(spark, 500, 4, seed = 1, nullFraction = 0.2)
      .withColumn("score", col("score") + 1), updatesPath)
    val s2 = BulkUpdateJob.run(spark, updatesPath, targetPath, Some(4))
    assert(s2.nMatched == 500 && s2.nUpserted == 0 && s2.nModified == 500)
    val snap = spark.read.parquet(targetPath)
    assert(snap.count() == 500)
    assert(snap.columns.contains("updatedAt"))
    // null-skip at the snapshot level: no null got written over a non-null
    // (nullFraction only nulls features; score is never null)
    assert(snap.filter(col("score").isNull).count() == 0)
  }

  test("single-pass merge: observed stats match the stats-only API") {
    val target = withTs(df(Seq(("a", 1.0, 2.0), ("b", 3.0, 4.0), ("c", 5.0, 6.0))))
    val updates = df(Seq(("a", 9.0, 9.0), ("b", 3.0, 4.0), ("z", 1.0, 1.0)))
    val (merged, obs) = MergeSink.mergePlanObserved(target, updates, "k", fields)
    merged.write.format("noop").mode("overwrite").save() // ONE action
    assert(MergeSink.statsOf(obs) == MergeSink.MergeStats(2, 1, 1))
    assert(MergeSink.statsOf(obs) == MergeSink.mergeStats(target, updates, "k", fields))
  }

  test("merge plan runs the join once: exactly one exchange per join side") {
    val target = withTs(df(Seq(("a", 1.0, 2.0))))
    val updates = df(Seq(("a", 9.0, 9.0), ("z", 1.0, 1.0)))
    val (merged, _) = MergeSink.mergePlanObserved(target, updates, "k", fields)
    val plan = merged.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 exchanges (one per side), got $exchanges:\n$plan")
  }

  test("bucketed-table merge: correct counts and no exchange on the target side") {
    val tbl = "graft_bucketed_merge_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}__merge_tmp")
    // round 1 creates the bucketed table (everything upserts)
    val s1 = MergeSink.mergeIntoBucketed(spark, tbl,
      df(Seq(("a", 1.0, 2.0), ("b", 3.0, 4.0))), "k", fields, nBuckets = 4)
    assert(s1 == MergeSink.MergeStats(0, 0, 2))
    // round 2 merges against the bucketed snapshot
    val s2 = MergeSink.mergeIntoBucketed(spark, tbl,
      df(Seq(("a", 9.0, null), ("c", 7.0, 7.0))), "k", fields, nBuckets = 4)
    assert(s2 == MergeSink.MergeStats(1, 1, 1))
    val snap = spark.table(tbl).orderBy("k").collect()
    assert(snap.map(_.getAs[String]("k")).toSeq == Seq("a", "b", "c"))
    assert(snap(0).getAs[Double]("f1") == 9.0 && snap(0).getAs[Double]("f2") == 2.0)
    // plan audit: target scan is bucketed -> only the update side exchanges
    val (merged, _) = MergeSink.mergePlanObserved(
      spark.table(tbl), df(Seq(("a", 0.0, 0.0))), "k", fields)
    val plan = merged.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"bucketed target must not re-shuffle; got $exchanges exchanges:\n$plan")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("first merge preserves a non-string key type in the snapshot schema") {
    val dir = Files.createTempDirectory("graft_longkey").toString
    val updates = Seq((10L, 1.0, 2.0), (20L, 3.0, 4.0)).toDF("k", "f1", "f2")
    val s = MergeSink.mergeInto(spark, s"$dir/snap", updates, "k", fields)
    assert(s == MergeSink.MergeStats(0, 0, 2))
    val snap = spark.read.parquet(s"$dir/snap")
    assert(snap.schema("k").dataType.typeName == "long",
      "a hard-coded string key would poison every later merge with casts")
    // second merge against the long-keyed snapshot still works
    val s2 = MergeSink.mergeInto(spark, s"$dir/snap",
      Seq((10L, 9.0, 9.0), (30L, 5.0, 5.0)).toDF("k", "f1", "f2"), "k", fields)
    assert(s2 == MergeSink.MergeStats(1, 1, 1))
  }

  test("atomic swap: a failed forward rename restores the previous snapshot") {
    import org.apache.hadoop.fs.{FilterFileSystem, Path => HPath}
    val dir = Files.createTempDirectory("graft_swap").toString
    val target = s"$dir/snap"
    val tmp = s"$dir/snap.__merge_tmp"
    val bak = s"$dir/snap.__merge_bak"
    withTs(df(Seq(("old", 1.0, 1.0)))).write.parquet(target)
    withTs(df(Seq(("new", 2.0, 2.0)))).write.parquet(tmp)
    val real = new HPath(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fail exactly the SECOND rename (tmp -> target): target was already
    // moved aside, so without rollback the snapshot would be ABSENT
    val failing = new FilterFileSystem(real) {
      override def rename(src: HPath, dst: HPath): Boolean =
        if (src.toString.endsWith(".__merge_tmp")) false else super.rename(src, dst)
    }
    intercept[IllegalArgumentException] {
      MergeSink.atomicSwap(failing, new HPath(tmp), new HPath(target), new HPath(bak))
    }
    val rows = spark.read.parquet(target).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("k") == "old",
      "the previous snapshot must be restored, not left in .__merge_bak")
    assert(!real.exists(new HPath(bak)), "backup moved back, not left aside")
  }

  test("catalog swap: a failed forward rename restores the previous table name") {
    val tbl = "graft_catalog_swap_test"
    val tmp = s"${tbl}__merge_tmp"
    val bak = s"${tbl}__merge_bak"
    Seq(tbl, tmp, bak).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    withTs(df(Seq(("old", 1.0, 1.0)))).write.saveAsTable(tbl)
    withTs(df(Seq(("new", 2.0, 2.0)))).write.saveAsTable(tmp)
    // fail exactly the forward rename (tmp -> table): the live table was
    // already moved aside, so without rollback NO table would hold the name
    val boom = intercept[RuntimeException] {
      MergeSink.catalogSwap(spark, tmp, tbl, bak) { (from, to) =>
        if (from == tmp) throw new RuntimeException("injected rename failure")
        spark.sql(s"ALTER TABLE $from RENAME TO $to"); ()
      }
    }
    assert(boom.getMessage.contains("injected"))
    assert(spark.catalog.tableExists(tbl), "target name must survive the failed swap")
    val rows = spark.table(tbl).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("k") == "old",
      "the previous snapshot must be restored under the target name")
    assert(!spark.catalog.tableExists(bak), "backup renamed back, not left aside")
    Seq(tbl, tmp).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("composed partitioned+bucketed merge: parity with full rewrite, untouched dirs intact") {
    val t = "graft_merge_pb_parity"
    val dirF = Files.createTempDirectory("graft_merge_pb_full").toString + "/idx"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      val r1 = df(Seq(("a", 1.0, 2.0), ("b", 3.0, 4.0), ("c", 5.0, 6.0)))
      val r2 = df(Seq(("a", null, 9.0), ("d", 7.0, 8.0)))
      val sP1 = MergeSink.mergeIntoPartitionedBucketed(spark, t, r1, "k", fields, 4, 8)
      val sF1 = MergeSink.mergeInto(spark, dirF, r1, "k", fields)
      val sP2 = MergeSink.mergeIntoPartitionedBucketed(spark, t, r2, "k", fields, 4, 8)
      val sF2 = MergeSink.mergeInto(spark, dirF, r2, "k", fields)
      assert(sP1 == sF1 && sP2 == sF2, s"stats must agree: $sP1/$sF1, $sP2/$sF2")
      val pb = spark.table(t).select(col("k"), col("f1"), col("f2"))
        .collect().map(r => (r.getString(0), r.get(1), r.get(2))).toSet
      val full = spark.read.parquet(dirF).select(col("k"), col("f1"), col("f2"))
        .collect().map(r => (r.getString(0), r.get(1), r.get(2))).toSet
      assert(pb == full, "the composed layout must hold the same merged rows")
      // untouched pd directories must not be rewritten by a one-key merge
      val loc = spark.sql(s"DESC FORMATTED $t").collect()
        .find(_.getString(0) == "Location").get.getString(1)
      val root = new org.apache.hadoop.fs.Path(loc)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def snapshot(): Map[String, Seq[(String, Long, Long)]] =
        fs.listStatus(root).filter(_.getPath.getName.startsWith("pd=")).map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath).toSeq.map(f =>
            (f.getPath.getName, f.getLen, f.getModificationTime))
        }.toMap
      // seed more keys so several pd dirs exist
      MergeSink.mergeIntoPartitionedBucketed(spark, t,
        df((1 to 32).map(i => (s"k$i",
          java.lang.Double.valueOf(i.toDouble), java.lang.Double.valueOf(0.0)))),
        "k", fields, 4, 8)
      val before = snapshot()
      assert(before.size == 4, s"seed should populate all 4 dirs: ${before.keySet}")
      MergeSink.mergeIntoPartitionedBucketed(spark, t,
        df(Seq(("k1", 99.0, 99.0))), "k", fields, 4, 8)
      val after = snapshot()
      val changed = before.keySet.filter(d => before(d) != after(d))
      val touched = spark.range(1)
        .select(pmod(xxhash64(lit("k1")), lit(4L))).head().getLong(0)
      assert(changed == Set(s"pd=$touched"),
        s"only k1's directory may be rewritten; changed=$changed expected=pd=$touched")
      // bucket spec survives the dynamic-overwrite inserts
      val desc = spark.sql(s"DESC FORMATTED $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc.get("Num Buckets").contains("8"), s"bucket spec lost: $desc")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(dirF)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p.getParent, true)
    }
  }

  test("empty updates: merge into existing target is a no-op with zero counts") {
    val dir = Files.createTempDirectory("graft_merge_empty").toString
    val targetPath = s"$dir/collection"
    SyntheticSource.write(SyntheticSource.generate(spark, 50, 1, seed = 7), s"$dir/seed")
    BulkUpdateJob.run(spark, s"$dir/seed", targetPath, None)
    val empty = SyntheticSource.generate(spark, 0, 1)
    val s = MergeSink.mergeInto(spark, targetPath, empty,
      SyntheticSource.idColumn, SyntheticSource.payloadFields)
    assert(s == MergeSink.MergeStats(0, 0, 0))
    assert(spark.read.parquet(targetPath).count() == 50)
  }

  // ---- schema evolution: a day-2 update carries a column day 1 never
  // had; the snapshot must evolve in place (new column null on
  // untouched rows) in every layout, and the partitioned layouts must
  // NOT rewrite day-1 data to do it ----

  private def day2 = Seq(("a", 9.0)).toDF("k", "f3")

  private def assertEvolved(rows: Map[String, (Any, Any, Any)]): Unit = {
    assert(rows("a") == (1.0, 2.0, 9.0), s"touched row must carry f3: $rows")
    assert(rows("b") == (3.0, 4.0, null), s"day-1 row reads null f3: $rows")
  }

  test("schema evolution (full rewrite): day-2 column lands, day-1 rows read null") {
    val dir = Files.createTempDirectory("graft_evo_full").toString + "/idx"
    try {
      MergeSink.mergeInto(spark, dir, df(Seq(("a", 1.0, 2.0), ("b", 3.0, 4.0))),
        "k", fields)
      val st = MergeSink.mergeInto(spark, dir, day2, "k", Seq("f3"))
      assert(st == MergeSink.MergeStats(1, 1, 0),
        s"gaining a field on a matched row IS a modification: $st")
      assertEvolved(spark.read.parquet(dir)
        .collect().map(r => r.getAs[String]("k") ->
          ((r.get(1), r.get(2), r.getAs[Any]("f3")))).toMap)
      // old fields untouched by an f3-only update on a matched row
      val st2 = MergeSink.mergeInto(spark, dir, day2, "k", Seq("f3"))
      assert(st2 == MergeSink.MergeStats(1, 0, 0), s"idempotent re-apply: $st2")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p.getParent, true)
    }
  }

  test("schema evolution (bucketed table): catalog schema evolves with the rewrite") {
    val table = "graft_evo_bucketed"
    try {
      MergeSink.mergeIntoBucketed(spark, table,
        df(Seq(("a", 1.0, 2.0), ("b", 3.0, 4.0))), "k", fields, 4)
      val st = MergeSink.mergeIntoBucketed(spark, table, day2, "k", Seq("f3"), 4)
      assert(st == MergeSink.MergeStats(1, 1, 0), s"$st")
      assertEvolved(spark.table(table)
        .collect().map(r => r.getAs[String]("k") ->
          ((r.getAs[Any]("f1"), r.getAs[Any]("f2"), r.getAs[Any]("f3")))).toMap)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("schema evolution (partitioned+bucketed): ALTER ADD COLUMNS, old dirs read null") {
    val table = "graft_evo_pd_bucketed"
    try {
      // enough keys that some pd directories are untouched by day 2
      val seed = df((1 to 32).map(i => (s"k$i",
        java.lang.Double.valueOf(i.toDouble), java.lang.Double.valueOf(0.0))) ++
        Seq(("a", java.lang.Double.valueOf(1.0), java.lang.Double.valueOf(2.0)),
            ("b", java.lang.Double.valueOf(3.0), java.lang.Double.valueOf(4.0))))
      MergeSink.mergeIntoPartitionedBucketed(spark, table, seed, "k", fields, 4, 2)
      val st = MergeSink.mergeIntoPartitionedBucketed(spark, table, day2,
        "k", Seq("f3"), 4, 2)
      assert(st == MergeSink.MergeStats(1, 1, 0), s"$st")
      // catalog schema is authoritative: files in untouched pd= dirs
      // predate the column and read null for it — no mergeSchema needed
      assertEvolved(spark.table(table).filter(col("k").isin("a", "b"))
        .collect().map(r => r.getAs[String]("k") ->
          ((r.getAs[Any]("f1"), r.getAs[Any]("f2"), r.getAs[Any]("f3")))).toMap)
      assert(spark.table(table).count() == 34, "no rows lost through evolution")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
