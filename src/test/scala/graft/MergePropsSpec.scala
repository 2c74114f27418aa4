package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sinks.MergeSink

/** Property-based merge algebra (SURVEY §5 plan item 2), sampled with
  * ScalaCheck generators over randomized target/update sets:
  *  - idempotence: applying an update set twice equals applying it once;
  *  - null-skip never loses data: a stored non-null survives any update;
  *  - upsert count = |update keys ∉ target|;
  *  - duplicate-key fold ≡ sequential per-row application;
  *  - without an order column the fold is a function of the row values
  *    alone (a reference fold, whatever the arrival order). */
class MergePropsSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq("f1", "f2")
  private type Rows = List[(String, Option[Double], Option[Double])]

  private val keyGen = Gen.oneOf((0 until 12).map(i => s"k$i"))
  private val valGen = Gen.option(Gen.choose(0, 99).map(_.toDouble))
  private val rowsGen: Gen[Rows] =
    Gen.listOfN(10, for (k <- keyGen; a <- valGen; b <- valGen) yield (k, a, b))

  private def sample(seed: Long): (Rows, Rows) = {
    val p = Gen.Parameters.default
    val t = rowsGen.pureApply(p, Seed(seed)).distinctBy(_._1)
    val u = rowsGen.pureApply(p, Seed(seed + 1000)).distinctBy(_._1)
    (t, u)
  }

  private def df(rows: Rows): DataFrame =
    rows.map(r => (r._1, r._2.map(Double.box).orNull, r._3.map(Double.box).orNull))
      .toDF("k", "f1", "f2")

  private def target(rows: Rows): DataFrame =
    df(rows).withColumn("updatedAt", to_timestamp(lit("2020-01-01 00:00:00")))

  private val now = to_timestamp(lit("2026-01-01 00:00:00"))

  private def snap(d: DataFrame): Set[(String, Option[Double], Option[Double])] =
    d.collect().map { r =>
      (r.getAs[String]("k"),
        Option(r.getAs[java.lang.Double]("f1")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("f2")).map(_.doubleValue))
    }.toSet

  test("idempotence: merging the same update set twice changes nothing") {
    for (seed <- 1L to 8L) {
      val (t, u) = sample(seed)
      val once = MergeSink.mergePlan(target(t), df(u), "k", fields, now = now)
      val twice = MergeSink.mergePlan(once, df(u), "k", fields, now = now)
      assert(snap(once) == snap(twice), s"seed=$seed")
      val s2 = MergeSink.mergeStats(once, df(u), "k", fields)
      assert(s2.nModified == 0 && s2.nUpserted == 0, s"seed=$seed: $s2")
    }
  }

  test("null-skip never loses data: every stored non-null survives") {
    for (seed <- 1L to 8L) {
      val (t, u) = sample(seed)
      val merged = snap(MergeSink.mergePlan(target(t), df(u), "k", fields, now = now))
      val byKey = merged.map(r => r._1 -> (r._2, r._3)).toMap
      t.foreach { case (k, f1, f2) =>
        val (m1, m2) = byKey(k)
        assert(f1.isEmpty || m1.nonEmpty, s"seed=$seed key=$k lost f1")
        assert(f2.isEmpty || m2.nonEmpty, s"seed=$seed key=$k lost f2")
      }
    }
  }

  test("upsert count equals |update keys not in target|") {
    for (seed <- 1L to 8L) {
      val (t, u) = sample(seed)
      val expected = (u.map(_._1).toSet -- t.map(_._1).toSet).size
      val s = MergeSink.mergeStats(target(t), df(u), "k", fields)
      assert(s.nUpserted == expected, s"seed=$seed")
    }
  }

  test("duplicate-key fold equals sequential per-row application") {
    for (seed <- 1L to 8L) {
      val p = Gen.Parameters.default
      val dups = rowsGen.pureApply(p, Seed(seed + 5000)) // duplicates allowed
      val seq = dups.zipWithIndex
        .map { case ((k, a, b), i) => (k, a.map(Double.box).orNull, b.map(Double.box).orNull, i.toLong) }
        .toDF("k", "f1", "f2", "seq")
      val folded = snap(MergeSink.collapseUpdates(seq, "k", fields, Some("seq"))
        .select("k", "f1", "f2"))
      // sequential last-non-null-wins reference fold
      val expected = dups.zipWithIndex.groupBy(_._1._1).map { case (k, rs) =>
        val ordered = rs.sortBy(_._2).map(_._1)
        (k,
          ordered.flatMap(_._2.toList).lastOption,
          ordered.flatMap(_._3.toList).lastOption)
      }.toSet
      assert(folded == expected, s"seed=$seed")
    }
  }

  test("fold without orderCol equals the struct-order reference fold, under any row permutation") {
    // without an order column the fold orders a key's rows by
    // struct(fields) ascending (nulls first, field by field) and takes
    // each field's last non-null value in that order
    val nullsFirst: Ordering[Option[Double]] = Ordering.Option(Ordering.Double.TotalOrdering)
    val structOrder: Ordering[(Option[Double], Option[Double])] =
      Ordering.Tuple2(nullsFirst, nullsFirst)
    for (seed <- 1L to 8L) {
      val p = Gen.Parameters.default
      val dups = rowsGen.pureApply(p, Seed(seed + 7000)) // duplicates allowed
      val expected = dups.groupBy(_._1).map { case (k, rs) =>
        val ordered = rs.sortBy(r => (r._2, r._3))(structOrder)
        (k, ordered.flatMap(_._2.toList).lastOption, ordered.flatMap(_._3.toList).lastOption)
      }.toSet
      val rnd = new scala.util.Random(seed)
      for (perm <- Seq(dups, dups.reverse, rnd.shuffle(dups))) {
        val folded = snap(MergeSink.collapseUpdates(df(perm).repartition(3), "k", fields))
        assert(folded == expected, s"seed=$seed rows=$perm")
      }
    }
  }

  test("incremental dedup ingest keeps the FIRST arrival, whatever the order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_").toString
    try {
      val target = s"$dir/idx"
      // day A arrives FIRST but carries the LARGER ids for hash h1 — a
      // later day's smaller id must NOT steal the survivor slot
      val dayA = Seq((50L, "h1"), (60L, "h2")).toDF("doc_id", "content_hash")
      val dayB = Seq((10L, "h1"), (70L, "h3"), (75L, "h3"))
        .toDF("doc_id", "content_hash")
      val s1 = operators.MergeQueries.dedupIngestManifested(spark, target, dayA,
        nBuckets = 4)
      assert(s1.nUpserted == 2L && s1.nMatched == 0L)
      val s2 = operators.MergeQueries.dedupIngestManifested(spark, target, dayB,
        nBuckets = 4)
      assert(s2.nUpserted == 1L, "only the never-seen hash h3 may insert")
      val idx = graft.sinks.ManifestMergeSink.readManifested(spark, target)
        .select("content_hash", "doc_id").as[(String, Long)].collect().toMap
      assert(idx == Map("h1" -> 50L, "h2" -> 60L, "h3" -> 70L),
        s"first arrival must survive (h3 dedups within its batch): $idx")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("incremental NEAR-dup ingest equals batch clustering under out-of-order arrivals") {
    import operators.{Dedup, MergeQueries}
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_ooo_").toString
    try {
      val target = s"$dir/idx"
      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
        .localCheckpoint(true)
      // arrival days decoupled from id order: doc_id % 3 = 1 arrives
      // first, then % 3 = 2, then % 3 = 0 — so later days repeatedly
      // undercut indexed survivors with smaller ids (the remap path)
      Seq(1, 2, 0).foreach { day =>
        MergeQueries.neardupIngestManifested(spark, target,
          docs.filter(col("doc_id") % 3 === day), "doc_id", "text", nBuckets = 8)
      }
      val got = graft.sinks.ManifestMergeSink.readManifested(spark, target)
        .select("doc_id", "survivor_id").as[(Long, Long)].collect().toMap
      // batch reference: whole-corpus pairs + CC, singletons survive as self
      val comp = Dedup.connectedComponents(
          Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
        .as[(Long, Long)].collect().toMap
      val expected = Dedup.simhashSignatures(docs, "doc_id", "text")
        .select("id").as[Long].collect()
        .map(id => id -> comp.getOrElse(id, id)).toMap
      assert(got == expected,
        s"incremental index must equal batch clustering; diff=${
          (got.toSet diff expected.toSet).take(5)} / ${
          (expected.toSet diff got.toSet).take(5)}")
      assert(expected.exists { case (id, s) => s != id },
        "fixture must contain at least one real near-dup cluster (non-vacuity)")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("near-dup contention with DISJOINT buckets still re-derives (conflictRepoint=false)") {
    // The discriminating case for the CAS seam's conflictRepoint=false:
    // two docs with IDENTICAL signatures (a certain pair) whose doc_id
    // hash buckets DIFFER — a disjoint-bucket metadata repoint (sound
    // for key-local dedup, mergeIntoManifested's default) would let the
    // losing writer publish its pre-conflict clustering (two singleton
    // survivors) because the winner never touched the loser's buckets;
    // the near-dup cross probe reads EVERY bucket's content, so the
    // seam must force a full re-derive and merge the pair.
    import operators.MergeQueries
    import graft.sinks.ManifestMergeSink
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_cont_").toString
    try {
      val target = s"$dir/idx"
      val n = 64
      def bucket(id: Long): Long = spark.range(1)
        .select(pmod(xxhash64(lit(id)), lit(n.toLong))).head().getLong(0)
      val idA = 1L
      val idB = (2L to 200L).find(b => bucket(b) != bucket(idA)).get
      def sigs(id: Long) =
        Seq((id, 12345L, 67890L)).toDF("id", "sh_lo", "sh_hi")
      // writer A ingests {A}; before its first publish attempt, writer
      // B fully commits {B} — A loses the CAS with B's bucket disjoint
      // from A's, the exact window a repoint would corrupt
      MergeQueries.neardupIngestSigsManifested(spark, target, sigs(idA),
        nBuckets = n,
        beforePublish = () => {
          MergeQueries.neardupIngestSigsManifested(spark, target, sigs(idB),
            nBuckets = n); ()
        })
      val got = ManifestMergeSink.readManifested(spark, target)
        .select("doc_id", "survivor_id").as[(Long, Long)].collect().toMap
      assert(got == Map(idA -> idA, idB -> idA),
        s"losing writer must re-derive against the winner's head even when " +
          s"its buckets are disjoint (the cross probe reads every bucket); " +
          s"got $got (buckets ${bucket(idA)} vs ${bucket(idB)})")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("SCOPED near-dup ingest equals per-scope batch clustering under out-of-order arrivals") {
    import operators.{Dedup, MergeQueries}
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_scoped_").toString
    try {
      val target = s"$dir/idx"
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"), col("lang"))
        .localCheckpoint(true)
      // the q68-props arrival schedule, against the scoped index
      Seq(1, 2, 0).foreach { day =>
        MergeQueries.neardupIngestScopedManifested(spark, target,
          docs.filter(col("doc_id") % 3 === day), "doc_id", "text", "lang",
          nBuckets = 8)
      }
      val got = graft.sinks.ManifestMergeSink.readManifested(spark, target)
        .select("doc_id", "lang", "survivor_id")
        .as[(Long, String, Long)].collect().toSet
      // batch reference: per-scope pairs (exact pairs restricted to
      // equal langs — DedupSpec proves that identity) + CC
      val langOf = docs.select(col("doc_id"), col("lang"))
        .as[(Long, String)].collect().toMap
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        .select("id1", "id2").as[(Long, Long)].collect()
        .filter { case (a, b) => langOf(a) == langOf(b) }
      val comp = Dedup.connectedComponents(
          pairs.toSeq.toDF("id1", "id2"))
        .as[(Long, Long)].collect().toMap
      val expected = Dedup.simhashSignatures(docs, "doc_id", "text")
        .select("id").as[Long].collect()
        .map(id => (id, langOf(id), comp.getOrElse(id, id))).toSet
      assert(got == expected,
        s"scoped index must equal per-scope batch clustering; diff=${
          (got diff expected).take(5)} / ${(expected diff got).take(5)}")
      assert(expected.exists { case (id, _, s) => s != id },
        "fixture must contain a within-scope near-dup cluster (non-vacuity)")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("scope health: per-scope counts exact, envelope flag fires only past the cap") {
    import operators.MergeQueries
    // signatures crafted so each scope has singleton low-chunk buckets
    // (sh_lo distinct) plus shared zero-value buckets (sh_hi = 0, upper
    // sh_lo chunk = 0): en bucket sizes [1,1,1,3,3,3] → p99 cap 3,
    // de [1,1,2,2,2] → cap 2; nothing hot, no all-chunks-hot docs
    val index = Seq(
      (1L, "en", 1L, 1L, 0L), (2L, "en", 1L, 2L, 0L), (3L, "en", 3L, 3L, 0L),
      (4L, "de", 4L, 4L, 0L), (5L, "de", 4L, 5L, 0L))
      .toDF("doc_id", "lang", "survivor_id", "sh_lo", "sh_hi")
    val h = MergeQueries.scopeHealth(index, "lang", maxDocsPerScope = 2L)
      .as[(String, Long, Long, Boolean, Long, Long, Long)].collect().toSeq
    assert(h == Seq(("de", 2L, 1L, false, 2L, 0L, 0L),
      ("en", 3L, 2L, true, 3L, 0L, 0L)), s"$h")
    intercept[IllegalArgumentException] {
      MergeQueries.scopeHealth(index, "lang", maxDocsPerScope = 0L)
    }
  }

  test("governor erosion: an all-chunks-hot doc is counted, caps stay per-scope") {
    import operators.Dedup
    // scope "hot": 5 identical signatures collapse all four chunks into
    // 4 buckets of size 5; one extra doc shares nothing. Bucket sizes
    // [1,1,1,1,5,5,5,5] → p50 cap = 1 → the 4 size-5 buckets are hot and
    // the five identical docs are all-chunks-hot. Scope "ok": two
    // distinct docs, all singleton buckets → cap 1, nothing hot.
    val sigs = ((1L to 5L).map(i => (i, "hot", 7L, 7L)) ++
      Seq((6L, "hot", 1L << 17 | 2L, 3L << 16 | 4L),
        (7L, "ok", 5L << 16 | 6L, 8L << 16 | 9L),
        (8L, "ok", 10L << 16 | 11L, 12L << 16 | 13L)))
      .toDF("id", "lang", "sh_lo", "sh_hi")
    val e = Dedup.governorErosion(sigs, Seq("lang"), quantile = 0.5)
      .orderBy(col("lang"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(e == Seq(("hot", 1L, 4L, 5L), ("ok", 1L, 0L, 0L)), s"$e")
  }

  test("streaming near-dup ingest micro-batches per file and equals direct ingest") {
    import spark.implicits._
    import operators.MergeQueries
    import graft.streaming.StreamingFold
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_stream_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val srcDir = s"$dir/arrivals"
      val target = s"$dir/idx"
      val direct = s"$dir/direct_idx"
      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
        .localCheckpoint(true)
      // second file re-delivers a quarter of the first — the stream must
      // absorb cross-batch at-least-once exactly like the batch API
      val days = Seq(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0)
          .union(docs.filter(col("doc_id") % 4 === 1)))
      days.zipWithIndex.foreach { case (d, i) =>
        StreamingFold.land(d, srcDir, s"f_$i.parquet")
      }
      val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]
      StreamingFold.drain(StreamingFold.files(spark,
          StreamingFold.docColumns("doc_id", "text"), srcDir),
          s"$dir/ckpt", "stream_neardup") { (batch, batchId) =>
        val s = MergeQueries.neardupIngestManifested(spark, target, batch,
          "doc_id", "text", 16)
        seen.put(batchId, s.nUpserted)
        Seq("n_upserted" -> s.nUpserted)
      }
      // the STREAMING claim: one file per trigger delivered one
      // micro-batch per staged file, not one big batch
      assert(seen.size == 2,
        s"expected 2 micro-batches, got ${seen.size}: $seen")
      days.foreach(d =>
        MergeQueries.neardupIngestManifested(spark, direct, d, "doc_id", "text", 16))
      // the stream's index is the MANIFESTED layout (the default target)
      val got = graft.sinks.ManifestMergeSink.readManifested(spark, target)
        .select("doc_id", "survivor_id").as[(Long, Long)].collect().toSet
      val want = graft.sinks.ManifestMergeSink.readManifested(spark, direct)
        .select("doc_id", "survivor_id").as[(Long, Long)].collect().toSet
      assert(got == want,
        s"stream-fed index must equal the direct batch-API index; diff=${
          (got diff want).take(5)} / ${(want diff got).take(5)}")
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("a later batch bridging two indexed clusters remaps the losing survivor") {
    import operators.{Dedup, MergeQueries}
    // construct (v1, v2, bridge) with hamming(v1,bridge) <= 3,
    // hamming(v2,bridge) <= 3, hamming(v1,v2) > 3: search deterministic
    // single-token edits of a base text and verify with the REAL
    // signature function, so the test never hardcodes hash behavior
    val base = (1 to 24).map(i => s"tok$i").mkString(" ")
    val variants = (1 to 24).map { i =>
      (1 to 24).map(j => if (j == i) s"alt$i" else s"tok$j").mkString(" ")
    }
    val cand = spark.createDataFrame(
        (0L, base) +: variants.zipWithIndex.map { case (t, i) => (i + 1L, t) })
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(cand, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val pair = (for {
      i <- 1 to 24; j <- (i + 1) to 24
      if ham(sigs(i.toLong), sigs(0L)) <= 3 && ham(sigs(j.toLong), sigs(0L)) <= 3 &&
         ham(sigs(i.toLong), sigs(j.toLong)) > 3
    } yield (i, j)).headOption
    assert(pair.nonEmpty, "no bridgeable variant pair found — widen the candidate set")
    val (i, j) = pair.get
    val texts = Map(10L -> variants(i - 1), 20L -> variants(j - 1), 30L -> base)
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_bridge_").toString
    try {
      val target = s"$dir/idx"
      def day(ids: Long*) =
        spark.createDataFrame(ids.map(id => (id, texts(id)))).toDF("doc_id", "text")
      // day 1: two mutually-far docs -> two singleton clusters
      MergeQueries.neardupIngestManifested(spark, target, day(10L, 20L),
        "doc_id", "text", nBuckets = 4)
      val before = graft.sinks.ManifestMergeSink.readManifested(spark, target)
        .select("doc_id", "survivor_id").as[(Long, Long)].collect().toMap
      assert(before == Map(10L -> 10L, 20L -> 20L), s"expected singletons: $before")
      // day 2: the bridge joins both clusters -> one component, min id 10
      MergeQueries.neardupIngestManifested(spark, target, day(30L),
        "doc_id", "text", nBuckets = 4)
      val after = graft.sinks.ManifestMergeSink.readManifested(spark, target)
        .select("doc_id", "survivor_id").as[(Long, Long)].collect().toMap
      assert(after == Map(10L -> 10L, 20L -> 10L, 30L -> 10L),
        s"bridge must merge clusters and remap survivor 20 -> 10: $after")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("snapshotDiff classifies added/removed/changed and drops unchanged") {
    import spark.implicits._
    import graft.operators.MergeQueries
    val v1 = Seq((1L, "en", "ha"), (2L, "de", "hb"), (3L, "fr", "hc"))
      .toDF("doc_id", "lang", "h")
    val v2 = Seq((2L, "de", "hb2"), (3L, "fr", "hc"), (4L, "es", "hd"))
      .toDF("doc_id", "lang", "h")
    val out = MergeQueries.snapshotDiff(v1, v2, "doc_id", "h", Seq("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set((1L, "removed", "en"), (2L, "changed", "de"),
      (4L, "added", "es")))
  }
}
