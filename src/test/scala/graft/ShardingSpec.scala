package graft

import org.apache.spark.sql.functions._
import graft.operators.Sharding

class ShardingSpec extends SparkSpec {
  import spark.implicits._

  test("shard assignment is deterministic and growth-stable") {
    val docs = (1L to 400L).toDF("doc_id")
    val a = Sharding.shuffleShards(docs, "doc_id", 8, "s").select("doc_id", "shard")
    val b = Sharding.shuffleShards(docs, "doc_id", 8, "s").select("doc_id", "shard")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // growing the corpus must not move any existing row's shard
    val grown = Sharding.shuffleShards((1L to 800L).toDF("doc_id"), "doc_id", 8, "s")
      .filter(col("doc_id") <= 400).select("doc_id", "shard")
    assert(a.exceptAll(grown).isEmpty && grown.exceptAll(a).isEmpty)
  }

  test("hash-cut shards are balanced") {
    val docs = (1L to 4000L).toDF("doc_id")
    val sizes = Sharding.shuffleShards(docs, "doc_id", 8, "s")
      .groupBy("shard").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == (0L to 7L).toSet, s"all shards populated: $sizes")
    // uniform expectation 500 per shard; generous band catches gross skew
    sizes.values.foreach(n => assert(n > 300 && n < 700, s"shard sizes $sizes"))
  }

  test("exported shard files are internally sorted and positions are dense") {
    val base = java.nio.file.Files.createTempDirectory("graft_shard_spec_")
    try {
      val docs = Tables.documents(spark, sf).select(col("doc_id"))
      Sharding.exportShards(docs, "doc_id", 4, "s", s"$base/out")
      for (k <- 0 until 4) {
        // fixture files are far under one split, so collect() order IS file order
        val rows = spark.read.parquet(s"$base/out/shard=$k").collect()
        val poss = rows.map(_.getAs[Long]("pos"))
        assert(poss.toSeq == (1L to rows.length.toLong), s"shard $k dense+ordered")
        val buckets = rows.map(_.getAs[Long]("bucket"))
        assert(buckets.toSeq == buckets.sortBy(identity).toSeq, s"shard $k bucket-sorted")
      }
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  test("zOrderKey matches the driver-side Morton interleave exhaustively") {
    def morton(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i => (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).sum
    val pts = for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)
    val got = pts.toDF("a", "b")
      .withColumn("z", Sharding.zOrderKey(col("a"), col("b"), 8))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    pts.foreach { case (a, b) =>
      assert(got((a, b)) == morton(a, b, 8), s"($a, $b)")
    }
    // the defining locality property: z of the 4 sub-quadrants nest
    assert(morton(0, 0, 8) == 0 && morton(1, 0, 8) == 1 &&
      morton(0, 1, 8) == 2 && morton(1, 1, 8) == 3)
  }

  test("z-order files prune on BOTH dims where a 1-D sort only prunes its own") {
    // the full 256x256 grid: every file's (qb, lb) bounding rectangle is
    // a pair of 64x64 tiles, so a predicate on EITHER dim prunes files;
    // a qb-sorted layout gives every file the full lb range
    val grid = (for (a <- 0L until 256L; b <- 0L until 256L) yield (a, b))
      .toDF("qb", "lb")
    val laid = Sharding.zOrderLayout(grid, "qb", "qb", "lb", 8)
    val rects = laid.groupBy(col("file_id"))
      .agg(min(col("qb")).as("q0"), max(col("qb")).as("q1"),
        min(col("lb")).as("l0"), max(col("lb")).as("l1"),
        count(lit(1)).as("n"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rects.length == 8 && rects.forall(_._6 == 65536L / 8))
    // z-layout: predicate lb < 64 prunes at least half the files
    val zPruned = rects.count(r => r._4 >= 64)
    assert(zPruned >= 4, s"z-order pruned only $zPruned of 8 on the non-leading dim")
    // 1-D qb-sorted layout: every equal-cut file spans the full lb range
    val oneD = grid.withColumn("file_id", expr("qb * 8 div 256"))
      .groupBy(col("file_id"))
      .agg(min(col("lb")).as("l0"), max(col("lb")).as("l1"))
      .as[(Long, Long, Long)].collect()
    assert(oneD.forall(r => r._2 == 0 && r._3 == 255),
      "the 1-D layout cannot prune on lb at all - the property z-order buys")
    // and z still prunes on the leading dim too: qb < 64
    assert(rects.count(r => r._2 >= 64) >= 4)
  }

  test("zOrderKeyN matches the driver-side N-D interleave; 2-D case is zOrderKey") {
    def mortonN(ds: Seq[Long], bits: Int): Long =
      (0 until bits).flatMap(i => ds.zipWithIndex.map { case (v, j) =>
        ((v >> i) & 1L) << (i * ds.size + j)
      }).sum
    val pts = for (a <- 0L until 8L; b <- 0L until 8L; c <- 0L until 8L; d <- 0L until 8L)
      yield (a, b, c, d)
    val got = pts.toDF("a", "b", "c", "d")
      .withColumn("z", Sharding.zOrderKeyN(
        Seq(col("a"), col("b"), col("c"), col("d")), 3))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3, r._4) -> r._5).toMap
    pts.foreach { case (a, b, c, d) =>
      assert(got((a, b, c, d)) == mortonN(Seq(a, b, c, d), 3), s"($a,$b,$c,$d)")
    }
    // the 2-D specialization is the N-D key with D = 2
    val two = (for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)).toDF("a", "b")
      .select(Sharding.zOrderKey(col("a"), col("b"), 4).as("z2"),
        Sharding.zOrderKeyN(Seq(col("a"), col("b")), 4).as("zn"))
      .filter(col("z2") =!= col("zn")).count()
    assert(two == 0L)
  }

  test("4-D z-order files prune on EVERY dim where a 1-D sort only prunes its own") {
    // full 16^4 grid, 4 bits per dim, 16 files: every dimension's box
    // predicate must exclude files under the z layout; the 1-D layout
    // (sorted by dim a alone) spans the full range of b/c/d in every file.
    // nFiles >= 2^D so the file cut's top bits include one bit from EVERY
    // dimension (with fewer files only the later-interleaved dims split)
    val grid = (for (a <- 0L until 16L; b <- 0L until 16L;
                     c <- 0L until 16L; d <- 0L until 16L) yield (a, b, c, d))
      .toDF("a", "b", "c", "d")
    val nFiles = 16
    val laid = grid.withColumn("zkey", Sharding.zOrderKeyN(
        Seq(col("a"), col("b"), col("c"), col("d")), 4))
      .withColumn("file_id", expr(s"zkey * $nFiles div ${1L << 16}"))
    val rects = laid.groupBy(col("file_id"))
      .agg(count(lit(1)).as("n"),
        min(col("a")).as("a0"), max(col("a")).as("a1"),
        min(col("b")).as("b0"), max(col("b")).as("b1"),
        min(col("c")).as("c0"), max(col("c")).as("c1"),
        min(col("d")).as("d0"), max(col("d")).as("d1"))
      .collect().map(r => (r.getAs[Long]("n"),
        Seq(("a", r.getAs[Long]("a0"), r.getAs[Long]("a1")),
            ("b", r.getAs[Long]("b0"), r.getAs[Long]("b1")),
            ("c", r.getAs[Long]("c0"), r.getAs[Long]("c1")),
            ("d", r.getAs[Long]("d0"), r.getAs[Long]("d1")))))
    assert(rects.length == nFiles && rects.forall(_._1 == 65536L / nFiles))
    // for every dimension, the predicate `dim < 8` excludes some files
    Seq("a", "b", "c", "d").foreach { dim =>
      val pruned = rects.count(_._2.exists(t => t._1 == dim && t._2 >= 8))
      assert(pruned >= 2,
        s"4-D z-order pruned only $pruned of $nFiles files on $dim < 8")
    }
    // the 1-D a-sorted layout spans the full range of every OTHER dim
    val oneD = grid.withColumn("file_id", expr(s"a * $nFiles div 16"))
      .groupBy(col("file_id"))
      .agg(min(col("b")).as("b0"), max(col("b")).as("b1"),
        min(col("c")).as("c0"), max(col("c")).as("c1"))
      .collect()
    assert(oneD.forall(r => r.getAs[Long]("b0") == 0 && r.getAs[Long]("b1") == 15 &&
      r.getAs[Long]("c0") == 0 && r.getAs[Long]("c1") == 15),
      "the 1-D layout cannot prune on b/c/d at all — the property N-D z-order buys")
  }

  // --- targeted OPTIMIZE (q215) -------------------------------------------

  private def rootOf(path: String) = new org.apache.hadoop.fs.Path(path)

  private def fsOf(path: String) =
    rootOf(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mapping(path: String): Map[Long, Seq[String]] =
    graft.sinks.DirManifest.requireHead(fsOf(path), rootOf(path))._2.parts

  private def commits(path: String): Int =
    graft.sinks.CommitLog.seqs(fsOf(path), rootOf(path)).size

  /** Per-cell byte fingerprints of a manifested z-layout: the data-file
    * (path, length, md5-of-bytes) set across each cell's mapped dirs. */
  private def cellBytes(path: String): Map[Long, Set[(String, Long, String)]] = {
    val fs = fsOf(path)
    mapping(path).map { case (id, dirs) =>
      id -> dirs.flatMap { d =>
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$d"))
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map { st =>
            val in = fs.open(st.getPath)
            val buf = new Array[Byte](st.getLen.toInt)
            try in.readFully(0, buf) finally in.close()
            val dig = java.security.MessageDigest.getInstance("MD5").digest(buf)
            (s"$d/${st.getPath.getName}", st.getLen, dig.map("%02x".format(_)).mkString)
          }
      }.toSet
    }
  }

  private def withBase(prefix: String)(body: java.nio.file.Path => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    try body(base)
    finally fsOf(base.toString).delete(rootOf(base.toString), true)
  }

  /** Degraded-layout fixture on the manifest: 16 z-clustered cells over a
    * 256×256 bucket grid + one appended unclustered cell confined to the
    * low-z quarter. Returns the layout path. */
  private def degradedLayout(base: java.nio.file.Path): String = {
    val nFiles = 16
    val path = s"$base/layout"
    val grid = (for (a <- 0L until 64L; b <- 0L until 64L) yield (a * 4, b * 4))
      .toDF("qb", "lb")
      .withColumn("zkey", Sharding.zOrderKey(col("qb"), col("lb"), 8))
      .withColumn("file_id", expr(s"zkey * $nFiles div ${1L << 16}"))
    Sharding.zWriteManifested(spark, path, grid, append = false)
    // the nightly residue: an unclustered cell of low-z rows (offset
    // buckets so the rows are NEW, not duplicates of the grid)
    val appended = (for (a <- 0L until 16L; b <- 0L until 16L)
        yield (a * 4 + 1, b * 4 + 1))
      .toDF("qb", "lb")
      .withColumn("zkey", Sharding.zOrderKey(col("qb"), col("lb"), 8))
      .filter(col("zkey") < (1L << 14)) // low quarter of the z space
      .withColumn("file_id", lit(nFiles.toLong))
    Sharding.zWriteManifested(spark, path, appended, append = true)
    path
  }

  test("optimizeFlaggedManifested: one commit across the rewrite set, clean cells keep their dirs") {
    withBase("graft_opt_mani_") { base =>
      val nFiles = 16
      val path = degradedLayout(base)
      val before = mapping(path)
      val bytesBefore = cellBytes(path)
      // getAs[Number].longValue: the discovered partition column is INT,
      // and erased getAs[Long] would smuggle Integers into the map
      val health0 = Sharding.layoutHealth(Sharding.zReadManifested(spark, path)
          .select(col("zkey"), col("file_id")))
        .collect().map(r => r.getAs[Number]("file_id").longValue ->
          r.getAs[Number]("overlap_cnt").longValue).toMap
      val flaggedIds = health0.filter(_._2 > 0).keySet
      assert(health0(nFiles.toLong) > 0, "appended cell must be flagged")
      assert(flaggedIds.size < health0.size,
        s"flagged set must be a STRICT subset (got all ${health0.size} cells)")
      val commitsBefore = commits(path)
      val stats = Sharding.optimizeFlaggedManifested(spark, path, nFiles, 1L << 16)
      assert(stats.flagged.toSet == flaggedIds, "operator flags = monitor flags")
      assert(stats.rewritten.toSet.subsetOf(before.keySet + nFiles.toLong))
      // ONE commit published the whole rewrite — atomic across cells
      assert(commits(path) == commitsBefore + 1)
      val after = mapping(path)
      val bytesAfter = cellBytes(path)
      (before.keySet -- stats.rewritten).foreach { id =>
        assert(after.get(id).contains(before(id)),
          s"clean cell $id must keep its exact dirs")
        assert(bytesAfter.get(id) == bytesBefore.get(id),
          s"clean cell $id must be byte-identical")
      }
      assert(!after.contains(nFiles.toLong), "appended residue cell must be gone")
      // re-measured health ≡ a full re-cluster: every overlap 0, and the
      // row-level assignment equals the pure-function re-cut of all rows
      val health1 = Sharding.layoutHealth(Sharding.zReadManifested(spark, path)
          .select(col("zkey"), col("file_id")))
        .collect()
      assert(health1.forall(_.getAs[Number]("overlap_cnt").longValue == 0L),
        "optimized layout must be overlap-free")
      val reopened = Sharding.zReadManifested(spark, path)
        .select(col("qb"), col("lb"), col("zkey"),
          col("file_id").cast("long").as("file_id"))
      val expected = reopened.drop("file_id")
        .withColumn("file_id", expr(s"zkey * $nFiles div ${1L << 16}"))
      assert(reopened.exceptAll(expected).isEmpty &&
        expected.exceptAll(reopened).isEmpty)
      // idempotence: a healthy layout is a no-op — nothing flagged, zero
      // commits, every cell keeps its exact dirs and file bytes
      val again = Sharding.optimizeFlaggedManifested(spark, path, nFiles, 1L << 16)
      assert(again.flagged.isEmpty && again.rewritten.isEmpty && again.produced.isEmpty,
        "healthy layout must not flag anything")
      assert(commits(path) == commitsBefore + 1, "a no-op pass must not commit")
      assert(mapping(path) == after)
      assert(cellBytes(path) == bytesAfter,
        "second optimize must leave every file byte-identical (q80's skip gate)")
    }
  }

  test("optimizeFlagged closure promotes a clean receiving file instead of clobbering it") {
    // the gap case the closure exists for: an appended cell whose z range
    // does NOT overlap a clean cell's ACTUAL range, but whose rows CUT
    // into that cell's id — without the closure the rewrite would
    // repoint the clean cell at only the incoming rows
    withBase("graft_opt_gap_") { base =>
      val nFiles = 4
      val path = s"$base/layout"
      // cell 0 covers cut range [0, 16384): give it actual rows only in
      // [0, 100]; cells 1..3 dense in their own ranges
      val clustered = ((0L to 100L) ++ (16384L until 16484L) ++
        (32768L until 32868L) ++ (49152L until 49252L))
        .toDF("zkey")
        .withColumn("file_id", expr(s"zkey * $nFiles div ${1L << 16}"))
      Sharding.zWriteManifested(spark, path, clustered, append = false)
      // appended rows {16600, 32800}: the cell's z range [16600, 32800]
      // INTERSECTS cell 2's actual range (32800 ∈ [32768, 32868)) — so
      // the appended cell and cell 2 flag — but SKIPS OVER cell 1's
      // actual range [16384, 16484), so cell 1 is NOT flagged even
      // though row 16600 cuts into cell 1's id: the gap case
      val appended = Seq(16600L, 32800L).toDF("zkey")
        .withColumn("file_id", lit(nFiles.toLong))
      Sharding.zWriteManifested(spark, path, appended, append = true)
      val health = Sharding.layoutHealth(Sharding.zReadManifested(spark, path)
          .select(col("zkey"), col("file_id")))
        .collect().map(r => r.getAs[Number]("file_id").longValue ->
          r.getAs[Number]("overlap_cnt").longValue).toMap
      assert(health(1L) == 0L, "fixture: receiving cell must NOT be health-flagged")
      assert(health(nFiles.toLong) > 0L && health(2L) > 0L,
        "fixture: appended cell and cell 2 must flag")

      val stats = Sharding.optimizeFlaggedManifested(spark, path, nFiles, 1L << 16)
      assert(!stats.flagged.contains(1L), "monitor must not have flagged cell 1")
      assert(stats.rewritten.contains(1L),
        "closure must promote the receiving cell into the rewrite set")
      val file1 = Sharding.zReadManifested(spark, path).filter(col("file_id") === 1)
        .select(col("zkey")).as[Long].collect().toSet
      assert(file1 == ((16384L until 16484L).toSet + 16600L),
        "receiving cell must hold BOTH its old rows and the incoming one")
      // cells 0 and 3 never entered the rewrite set
      assert(!stats.rewritten.contains(0L) && !stats.rewritten.contains(3L))
    }
  }

  test("skippingScan opens ONLY manifest-selected partitions and loses no row") {
    withBase("graft_skip_spec_") { base =>
      val path = s"$base/layout"
      // 8 cells, cell i holding metric range [i·100, i·100+99]
      val df = (0L until 800L).toDF("id")
        .withColumn("metric", col("id"))
        .withColumn("file_id", expr("id div 100"))
      Sharding.writeStatsLayoutManifested(df, Seq("id"), Seq("metric"), path)

      val scan = Sharding.skippingScanManifested(spark, path, "metric",
        lit(150L), lit(420L))
      assert(scan.filesTotal == 8L)
      assert(scan.filesRead == 4L, s"cells 1..4 intersect [150,420]: $scan")
      // no-loss: pruned result ≡ brute-force filter over the full layout
      val brute = Sharding.zReadManifested(spark, path)
        .filter(col("metric") >= 150 && col("metric") <= 420).select(col("id"))
      val got = scan.rows.select(col("id"))
      assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
      // PHYSICAL pin: the scan's file sources open exactly the filesRead
      // cells' mapped dirs — the pruning is at the mapping, not a filter
      // after an 8-cell read
      def openedDirs(rows: org.apache.spark.sql.DataFrame): Set[String] =
        rows.queryExecution.executedPlan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.toString)
        }.flatten.toSet
      val m = mapping(path)
      val want = (1L to 4L).flatMap(m).map(d => rootOf(s"$path/$d")
        .makeQualified(fsOf(path).getUri, fsOf(path).getWorkingDirectory)
        .toString).toSet
      assert(openedDirs(scan.rows) == want,
        s"opened dirs must be the filesRead cells' dirs: ${openedDirs(scan.rows)}")

      // empty-range scan: zero cells, zero files opened, zero rows
      val none = Sharding.skippingScanManifested(spark, path, "metric",
        lit(5000L), lit(6000L))
      assert(none.filesRead == 0L && none.rows.isEmpty)
      assert(openedDirs(none.rows).isEmpty, "an empty window must open no file")
    }
  }

  test("bloom index never false-negatives and q170 lookups stay pruned") {
    val sf001 = "/root/testdata/sf0.01"
    val out = Sharding.q170BloomLookup(spark, sf001)
    val rows = out.collect()
    assert(rows.nonEmpty, "probe set must be non-empty at sf0.01")
    // every probed key retrieved exactly once (no false negative can
    // hide a row; no candidate file duplicates one)
    val expected = Tables.documents(spark, sf001)
      .filter(col("doc_id") % 29 === 1).count()
    assert(rows.length.toLong == expected, s"${rows.length} != $expected")
    // economics: candidate sets are strictly smaller than the layout
    rows.foreach { r =>
      val nc = r.getAs[Long]("n_candidates")
      assert(nc >= 1L && nc < r.getAs[Long]("files_total"), s"pruned: $r")
    }
  }
}
