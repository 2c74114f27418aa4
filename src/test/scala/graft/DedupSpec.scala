package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.TextFunctions._

/** Dedup-operator invariants beyond the DuckDB value gate: the
  * prefix-filter join must be EXACTLY equivalent to the quadratic
  * self-join it replaced, and the approximate (LSH) paths must be
  * false-positive-free subsets of the exact result. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)

  /** Brute-force within-block reference (the round-1 implementation). */
  private def brutePairs(threshold: Double): Set[(Long, Long, Double)] = {
    val base = docs.select(col("doc_id").as("id"),
      array_distinct(tokens(col("text"))).as("grams"), col("source").as("blk"))
    base.alias("a").join(base.alias("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        round(jaccard(col("a.grams"), col("b.grams")), 4).as("j"))
      .filter(col("j") >= threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("prefix-filter Jaccard join equals brute force at t=0.95 and t=0.5") {
    for (t <- Seq(0.95, 0.5)) {
      val fast = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 1, threshold = t, blockCol = Some("source"))
        .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
          r.getAs[Double]("jaccard"))).toSet
      assert(fast == brutePairs(t), s"prefix filter diverged at t=$t")
    }
  }

  test("xxhash LSH pairs: no false positives, all verified >= threshold") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 1, numHashes = 16, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Double]("jaccard")))
    assert(lsh.nonEmpty)
    assert(lsh.forall(_._3 >= 0.5))
    val exactUnblocked = {
      val base = docs.select(col("doc_id").as("id"),
        array_distinct(tokens(col("text"))).as("grams"))
      base.alias("a").join(base.alias("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"),
          round(jaccard(col("a.grams"), col("b.grams")), 4).as("j"))
        .filter(col("j") >= 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(lsh.map(p => (p._1, p._2)).toSet.subsetOf(exactUnblocked))
  }

  test("hot-bucket cap drops oversized buckets but keeps results valid") {
    val capped = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 1, numHashes = 16, bands = 8, threshold = 0.5,
        maxBucketSize = Some(2))
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    val uncapped = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 1, numHashes = 16, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    assert(capped.toSet.subsetOf(uncapped.toSet))
  }

  test("64-bit simhash pairs all satisfy the hamming bound, symmetric-free") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Long]("hamming") <= 3))
    assert(pairs.forall(r => r.getAs[Long]("id1") < r.getAs[Long]("id2")))
  }

  test("tokenizer edges: empty, all-punctuation, and padded strings") {
    val df = Seq("", "!!! ??? ---", "  hello,  world!  ", "a", "7up&down")
      .toDF("text").select(col("text"), tokens(col("text")).as("toks"))
    val out = df.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(out("").isEmpty)
    assert(out("!!! ??? ---").isEmpty, "no-alnum text must yield zero tokens, not ['']")
    assert(out("  hello,  world!  ") == Seq("hello", "world"))
    assert(out("a") == Seq("a"))
    assert(out("7up&down") == Seq("7up", "down"))
  }

  test("winnowing: identical docs share all fingerprints; a local edit preserves most") {
    val a = "the quick brown fox jumps over the lazy dog and runs far away home"
    val b = "the quick brown fox jumps over the crazy dog and runs far away home"
    val df = Seq((1L, a), (2L, a), (3L, b)).toDF("id", "text")
      .select(col("id"), winnowFingerprints(col("text"), 5, 4).as("fps"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(fps(1L) == fps(2L), "winnowing is deterministic")
    assert(fps(1L).nonEmpty)
    val overlap = (fps(1L) & fps(3L)).size.toDouble / (fps(1L) | fps(3L)).size
    assert(overlap > 0.5, f"a one-word edit must preserve most fingerprints ($overlap%.2f)")
    assert(fps(1L) != fps(3L), "but not all of them")
  }

  test("winnowing guards: short docs yield empty fingerprint sets") {
    val df = Seq((1L, "ab"), (2L, "abcdef")).toDF("id", "text")
      .select(col("id"), winnowFingerprints(col("text"), 5, 4).as("fps"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(fps(1L).isEmpty, "shorter than k")
    assert(fps(2L).isEmpty, "fewer than w k-grams")
  }

  test("simhashWord votes: all-identical hashes give the hash itself as signature") {
    // one token hash repeated: every set bit votes +n, every unset bit -n
    val df = Seq(Seq(5L, 5L, 5L)).toDF("hs")
    val sh = df.select(Dedup.simhashWord(col("hs")).as("sh")).collect()(0).getLong(0)
    assert(sh == 5L)
  }

  test("codegen simhash word equals the higher-order form on random hash arrays") {
    val rng = new scala.util.Random(23)
    val rows = (1 to 300).map(_ =>
      Tuple1((1 to rng.nextInt(50)).map(_ => rng.nextLong() & 0xffffffffL))) :+
      Tuple1(Seq.empty[Long])
    val diff = rows.toDF("hs")
      .select(Dedup.simhashWord(col("hs")).as("fast"),
        Dedup.simhashWordHof(col("hs")).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff == 0, "the codegen word must be bit-identical to the HOF votes")
  }

  test("fused simhash signature equals the md5/conv/simhashWord pipeline") {
    // the un-fused reference: per-token md5 hex, both 32-bit words via
    // conv(substring), then the SimhashWord votes — exactly the pipeline
    // simhashSignatures ran before the SimhashSig fusion
    val rng = new scala.util.Random(29)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "l", "42", "xx9", "", "Ünïcode")
    val rows = (1 to 200).map(i =>
      (i.toLong, (1 to (1 + rng.nextInt(30))).map(_ =>
        words(rng.nextInt(words.size))).distinct))
    val df = (rows ++ Seq(1001L -> Seq("alpha", null, "beta"),
        1002L -> Seq[String](null)))
      .toDF("id", "toks").filter(size(col("toks")) > 0)
    import org.apache.spark.sql.graft.ColumnBridge
    val fused = df.select(col("id"), ColumnBridge.column(
        graft.expressions.SimhashSig(ColumnBridge.expression(col("toks"))))
        .as("sig"))
      .select(col("id"), col("sig.sh_lo").as("f_lo"), col("sig.sh_hi").as("f_hi"))
    val ref = df
      .withColumn("hx", transform(col("toks"), t => md5(t)))
      .withColumn("h_lo", transform(col("hx"),
        h => conv(substring(h, 1, 8), 16, 10).cast("long")))
      .withColumn("h_hi", transform(col("hx"),
        h => conv(substring(h, 9, 8), 16, 10).cast("long")))
      .select(col("id"), Dedup.simhashWord(col("h_lo")).as("r_lo"),
        Dedup.simhashWord(col("h_hi")).as("r_hi"))
    val diff = fused.join(ref, "id")
      .filter(col("f_lo") =!= col("r_lo") || col("f_hi") =!= col("r_hi"))
      .count()
    assert(diff == 0, "fused signature must be bit-identical to the pipeline")
    // null tokens vote like a zero hash on both sides
    assert(fused.join(ref, "id").filter(col("id") >= 1001L).count() == 2)
    // a null token array has no signature
    val nullSig = Seq(1L -> (null: Seq[String])).toDF("id", "toks")
      .select(ColumnBridge.column(
        graft.expressions.SimhashSig(ColumnBridge.expression(col("toks")))))
      .collect()(0)
    assert(nullSig.isNullAt(0))
  }

  /** The fused minhash forms and their HOF references on null input:
    * null elements are value-identical; a NULL array is the one pinned
    * divergence — the fused form gives NULL (no signature), the HOF
    * form `numHashes` nulls (see [[graft.expressions.Md5Fused]]). */
  private def assertNullRows(fused: (Column, Int) => Column,
                             hof: (Column, Int) => Column): Unit = {
    val df = Seq(1L -> Seq("a b", null, "x"), 2L -> Seq[String](null, null),
        3L -> (null: Seq[String])).toDF("id", "elems")
    val both = df.select(col("id"), fused(col("elems"), 16).as("fused"),
        hof(col("elems"), 16).as("ref"))
      .orderBy(col("id")).collect()
    for (r <- both.take(2))
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"null element row ${r.getLong(0)}")
    assert(both(0).getSeq[Any](1).forall(_ != null), "null elements are skipped")
    assert(both(1).getSeq[Any](1).size == 16)
    val nullArray = both(2)
    assert(nullArray.isNullAt(1), "fused: a NULL array gives a NULL signature")
    assert(nullArray.getSeq[Any](2) == Seq.fill(16)(null),
      "HOF: a NULL array gives numHashes nulls")
  }

  test("fused md5-chunked minhash equals the HOF transform pipeline") {
    import graft.functions.TextFunctions
    val rng = new scala.util.Random(31)
    val words = Vector("a b c", "dd ee", "fff", "42 43", "x", "yy zz qq")
    val rows = (1 to 150).map(i =>
      (i.toLong, (0 until rng.nextInt(12)).map(_ =>
        words(rng.nextInt(words.size))))) :+ (999L, Seq.empty[String])
    val df = rows.toDF("id", "elems")
    val both = df.select(col("id"),
      TextFunctions.minhashSignatureMd5Chunked(col("elems"), 16).as("fused"),
      TextFunctions.minhashSignatureMd5ChunkedHof(col("elems"), 16).as("ref"))
    val bad = both.filter(!(col("fused") <=> col("ref"))).count()
    assert(bad == 0, "fused minhash must be value-identical to the HOF form")
    // empty input: 16 nulls, matching array_min over an empty transform
    val empty = both.filter(col("id") === 999L)
      .select(col("fused")).collect()(0).getSeq[Any](0)
    assert(empty.size == 16 && empty.forall(_ == null))
    assertNullRows(TextFunctions.minhashSignatureMd5Chunked,
      TextFunctions.minhashSignatureMd5ChunkedHof)
  }

  test("fused xx minhash equals the two-level xxhash64 HOF pipeline") {
    import graft.functions.TextFunctions
    val rng = new scala.util.Random(37)
    val words = Vector("alpha beta", "g", "42", "xx yy zz", "Ünïcode", "")
    val rows = (1 to 150).map(i =>
      (i.toLong, (0 until rng.nextInt(15)).map(_ =>
        words(rng.nextInt(words.size))))) :+ (999L, Seq.empty[String])
    val df = rows.toDF("id", "elems")
    val both = df.select(col("id"),
      TextFunctions.minhashSignatureXx(col("elems"), 16).as("fused"),
      TextFunctions.minhashSignatureXxHof(col("elems"), 16).as("ref"))
    val bad = both.filter(!(col("fused") <=> col("ref"))).count()
    assert(bad == 0, "fused xx minhash must be value-identical to the HOF form")
    assertNullRows(TextFunctions.minhashSignatureXx,
      TextFunctions.minhashSignatureXxHof)
  }

  test("Rabin-Karp winnowing: reference values, edit robustness, guards, SQL") {
    import graft.functions.TextFunctions.winnowFingerprintsRk
    // independent reference implementation of the same scheme
    def ref(s: String, k: Int, w: Int): Seq[Long] = {
      val bytes = s.getBytes("UTF-8")
      val n = bytes.length - k + 1
      if (n < w) return Seq.empty
      val base = 1000003L
      val top = (1 until k).foldLeft(1L)((p, _) => p * base)
      val hs = new Array[Long](n)
      hs(0) = bytes.take(k).foldLeft(0L)((h, b) => h * base + (b & 0xffL))
      for (i <- 1 until n)
        hs(i) = (hs(i - 1) - (bytes(i - 1) & 0xffL) * top) * base + (bytes(i + k - 1) & 0xffL)
      (0 to n - w).map(j => hs.slice(j, j + w).min).distinct.sorted
    }
    val a = "the quick brown fox jumps over the lazy dog and runs far away home"
    val b = "the quick brown fox jumps over the crazy dog and runs far away home"
    val rows = Seq((1L, a), (2L, a), (3L, b), (4L, "ab"), (5L, "abcdef"))
      .toDF("id", "text")
      .select(col("id"), winnowFingerprintsRk(col("text"), 5, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // exact match with the reference implementation pins eval AND codegen
    assert(rows(1L) == ref(a, 5, 4), "codegen path must match the reference values")
    assert(rows(3L) == ref(b, 5, 4))
    assert(rows(1L) == rows(2L), "deterministic: identical docs share all fingerprints")
    val s1 = rows(1L).toSet
    val s3 = rows(3L).toSet
    val overlap = (s1 & s3).size.toDouble / (s1 | s3).size
    assert(overlap > 0.5 && s1 != s3,
      f"a one-word edit must preserve most fingerprints ($overlap%.2f)")
    assert(rows(4L).isEmpty, "shorter than k")
    assert(rows(5L).isEmpty, "fewer than w k-grams")
    // SQL registration via the session extension; k/w must be literals
    val viaSql = spark.sql(s"SELECT graft_winnow_rk('$a', 5, 4) AS fps")
      .collect()(0).getSeq[Long](0)
    assert(viaSql == ref(a, 5, 4))
  }

  test("minhashLshGate booleans have teeth: an impossible recall bound flips recall_ok") {
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "aa bb cc dd ee ff gg"), // exact dup of 1 → the one exact pair
      (3L, "zz yy xx ww vv uu tt")
    ).toDF("id", "text")
    val ok = Dedup.minhashLshGate(docs, "id", "text",
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.7,
      minRecall = 0.5).collect()(0)
    assert(ok.getAs[Long]("n_exact") == 1)
    assert(ok.getAs[Boolean]("subset_ok") && ok.getAs[Boolean]("recall_ok"))
    val bad = Dedup.minhashLshGate(docs, "id", "text",
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.7,
      minRecall = 1.5).collect()(0)
    assert(!bad.getAs[Boolean]("recall_ok"),
      "an unsatisfiable bound must fail — otherwise the gate certifies nothing")
  }

  test("minhashLshGate fails when the LSH side is broken (corrupted band keys)") {
    // signatures salted with a per-row unique value: no two documents ever
    // share a band key, so the LSH side finds ZERO pairs — the gate must
    // catch that (recall_ok=false), otherwise it certifies nothing about
    // the production pipeline it exists to watch
    val brokenSig: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column =
      (elems, n) => array((0 until n).map(i =>
        xxhash64(lit(i), concat_ws(" ", elems), monotonically_increasing_id())): _*)
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "aa bb cc dd ee ff gg"), // exact dup of 1 → the one exact pair
      (3L, "zz yy xx ww vv uu tt")
    ).toDF("id", "text")
    val bad = Dedup.minhashLshGate(docs, "id", "text",
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.7,
      minRecall = 0.5, sigFn = brokenSig).collect()(0)
    assert(bad.getAs[Long]("n_exact") == 1, "the exact side must still anchor")
    assert(!bad.getAs[Boolean]("recall_ok"),
      "zero LSH pairs against a non-empty exact set must flip recall_ok")
  }

  test("codegen md5 winnowing is bit-identical to the higher-order oracle form") {
    // every fixture doc (incl. multi-byte zh text — char-gram byte offsets
    // are the subtle part) plus hand-built edges
    val mismatches = docs.select(
        winnowFingerprints(col("text"), 5, 4).as("hof"),
        winnowFingerprintsMd5(col("text"), 5, 4).as("gen"))
      .filter(not(col("hof") === col("gen")))
      .count()
    assert(mismatches == 0, "values must be identical — the q29 oracle depends on it")
    val edges = Seq("", "abc", "aaaaaaa", "日本語のテキストです、漢字も含む",
      "MiXeD Case With   Spaces", "exact-k!").toDF("text")
      .select(
        winnowFingerprints(col("text"), 5, 4).as("hof"),
        winnowFingerprintsMd5(col("text"), 5, 4).as("gen"))
      .collect()
    edges.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"edge mismatch: $r")
    }
    // SQL registration resolves and agrees
    val viaSql = spark.sql(
      "SELECT graft_winnow_md5(lower('the quick brown fox jumps over it'), 5, 4) AS f")
      .collect()(0).getSeq[String](0)
    val viaHof = Seq("the quick brown fox jumps over it").toDF("t")
      .select(winnowFingerprints(col("t"), 5, 4)).collect()(0).getSeq[String](0)
    assert(viaSql == viaHof)
  }

  test("q42 winnow gate: invariants hold on the fixture and are not vacuous") {
    val row = operators.TextQueries.q42WinnowRk(spark, sf).collect()(0)
    assert(row.getAs[Long]("n_docs") > 0 && row.getAs[Long]("total_md5") > 0)
    assert(row.getAs[Boolean]("append_subset_ok"))
    assert(row.getAs[Boolean]("prepend_subset_ok"))
    assert(row.getAs[Boolean]("count_band_ok"))
    // the subset predicate discriminates: an edit INSIDE the document (not
    // at an end) perturbs the overlapping windows, so the fingerprint set
    // is NOT a subset of the edited one — the boolean can actually flip
    val probe = Seq(
      ("the quick brown fox jumped over the lazy dog and ran far away",
       "the quick brown cat jumped over the lazy dog and ran far away"))
      .toDF("a", "b")
      .select(
        size(array_intersect(
          winnowFingerprintsRk(col("a"), 5, 4),
          winnowFingerprintsRk(col("b"), 5, 4))).as("sh"),
        size(winnowFingerprintsRk(col("a"), 5, 4)).as("n"))
      .collect()(0)
    assert(probe.getAs[Int]("sh") < probe.getAs[Int]("n"),
      "a mid-document edit must break the subset — otherwise the gate is vacuous")
  }

  test("connectedComponents closes transitive chains and keeps components apart") {
    // two components: a 4-chain (10-20-30-40, diameter 3 — needs real
    // iteration, one round of min-propagation is not enough) and a pair
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (77L, 88L))
      .toDF("id1", "id2")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
      77L -> 77L, 88L -> 77L))
  }

  test("connectedComponents matches brute-force closure on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val got = Dedup.connectedComponents(edges.toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(v => v -> find(v)).toMap
    assert(got == want)
  }

  test("connectedComponents converges in O(log d) rounds on a long chain") {
    // a 200-node path has diameter 199: pure min-propagation needs ~199
    // rounds, pointer jumping doubles label reach per round — maxIter=10
    // (2^10 > 200) only converges if the log-round claim actually holds
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(chain, maxIter = 10)
      .as[(Long, Long)].collect()
    assert(got.length == 200)
    assert(got.forall(_._2 == 0L),
      "every chain vertex must reach the min label within the log-round bound")
  }

  test("connectedComponents is partitioning-invariant") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 8L), (4L, 5L))
    val results = Seq(1, 4, 16).map { parts =>
      Dedup.connectedComponents(pairs.toDF("id1", "id2").repartition(parts))
        .as[(Long, Long)].collect().toMap
    }
    assert(results.distinct.size == 1,
      "component assignment must not depend on input partitioning")
    assert(results.head == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 4L -> 4L, 5L -> 4L))
  }

  test("connectedComponents handles empty and single-pair inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.connectedComponents(empty).count() == 0L)
    val one = Dedup.connectedComponents(Seq((5L, 3L)).toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap
    assert(one == Map(3L -> 3L, 5L -> 3L))
  }

  test("connectedComponents reliable-checkpoint mode matches the local path") {
    // the cluster-safe mode (reliable checkpoint every N rounds + persist
    // between): same labels as the default localCheckpoint path, and no
    // cache entry pinned after the call returns
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt_").toString
    try {
      val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (77L, 88L))
        .toDF("id1", "id2")
      val got = Dedup.connectedComponents(pairs,
          checkpointDir = Some(dir), checkpointInterval = 2)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
        77L -> 77L, 88L -> 77L))
      assert(org.apache.spark.sql.graft.ColumnBridge.cacheManagerIsEmpty(spark),
        "reliable mode must unpersist its per-round label frames")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("two-phase CC matches label propagation on chains, cliques, and random graphs") {
    // the two implementations share no code path — agreement on assorted
    // topologies (plus the shared q52/q59 oracle) is the equivalence case
    val graphs = Seq(
      Seq((10L, 20L), (20L, 30L), (30L, 40L), (77L, 88L)),         // chain + pair
      (0L until 199L).map(i => (i, i + 1)),                        // long chain
      (1L to 6L).combinations(2).map(s => (s(0), s(1))).toSeq,     // clique
      {
        val rnd = new scala.util.Random(7)
        Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
          .filter { case (a, b) => a != b }
          .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      })
    graphs.foreach { g =>
      val pairs = g.toDF("id1", "id2")
      val viaLabels = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      val viaStars = Dedup.connectedComponentsTwoPhase(pairs)
        .as[(Long, Long)].collect().toMap
      assert(viaStars == viaLabels,
        s"two-phase CC diverged from label propagation on ${g.take(5)}...")
    }
  }

  test("two-phase CC handles empty input and is partitioning-invariant") {
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.connectedComponentsTwoPhase(empty).count() == 0L)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 8L), (4L, 5L))
    val results = Seq(1, 4, 16).map { parts =>
      Dedup.connectedComponentsTwoPhase(pairs.toDF("id1", "id2").repartition(parts))
        .as[(Long, Long)].collect().toMap
    }
    assert(results.distinct.size == 1)
    assert(results.head == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 4L -> 4L, 5L -> 4L))
  }

  test("connectedComponents throws instead of returning partial labels") {
    // diameter-3 chain cannot reach the fixpoint in one round — exhausting
    // maxIter must throw, never quietly return split components
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L)).toDF("id1", "id2")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 1)
    }
    assert(e.getMessage.contains("maxIter"))
  }

  test("simhash hot-bucket cap keeps a subset of exact pairs, found via cold chunks") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.simhashPairs(docs, "doc_id", "text")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must have simhash pairs")
    val capped = Dedup.simhashPairs(docs, "doc_id", "text",
        maxBucketSize = Some(20))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(exact), "capping may only drop pairs, never invent them")
    assert(capped.nonEmpty,
      "pairs sharing any cold chunk must survive the hot-bucket drop")
  }

  test("cross-probe governor: governed pairs are a non-empty strict subset of exact") {
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text")
      .localCheckpoint(true)
    val probe = sigs.filter(col("id") % 2 === 1)
    val index = sigs.filter(col("id") % 2 === 0)
    val exact = Dedup.simhashCrossPairs(probe, index)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must have cross pairs")
    val governed = Dedup.simhashCrossPairs(probe, index,
        maxBucketSize = Some(20))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(governed.subsetOf(exact),
      "the governor may only drop pairs, never invent them")
    assert(governed.nonEmpty,
      "pairs sharing any cold chunk must survive the hot-bucket drop")
    assert(governed.size < exact.size,
      "the fixture's degenerate buckets must make the cap engage (non-vacuity)")
  }

  test("scoped cross-probe: pairs never cross scopes, within-scope pairs intact") {
    // deterministic core: identical texts, so hamming = 0 whichever way
    // the bit votes fall — the only discriminator left is the scope key
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon", "en"),
      (2L, "alpha beta gamma delta epsilon", "fr"), // same text, other scope
      (3L, "alpha beta gamma delta epsilon", "en")) // same text, same scope
      .toDF("doc_id", "text", "lang")
    val sigs = Dedup.simhashSignatures(d, "doc_id", "text", carry = Seq("lang"))
    val probe = sigs.filter(col("id") === 1L)
    val index = sigs.filter(col("id") =!= 1L)
    val exact = Dedup.simhashCrossPairs(probe, index)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L), (1L, 3L)))
    val scoped = Dedup.simhashCrossPairs(probe, index, extraKeys = Seq("lang"))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(scoped == Set((1L, 3L)),
      "the scope key must drop the cross-scope pair and keep the within-scope one")
    // fixture-level identity: scoped probe ≡ exact probe filtered to
    // equal scopes (the q229 oracle's formulation)
    val fsigs = Dedup.simhashSignatures(docs, "doc_id", "text",
      carry = Seq("lang")).localCheckpoint(true)
    val fprobe = fsigs.filter(col("id") % 2 === 1)
    val findex = fsigs.filter(col("id") % 2 === 0)
    val langOf = docs.select(col("doc_id"), col("lang"))
      .as[(Long, String)].collect().toMap
    val fexact = Dedup.simhashCrossPairs(fprobe, findex)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val fscoped = Dedup.simhashCrossPairs(fprobe, findex,
        extraKeys = Seq("lang"))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(fscoped == fexact.filter { case (a, b) => langOf(a) == langOf(b) },
      "scoped pairs must equal the same-scope restriction of exact pairs")
  }

  test("chunking tiles documents with exact overlap and remainder handling") {
    import graft.operators.TextQueries
    def words(n: Int, from: Int = 0): String =
      (from until from + n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(10)),  // size 8, overlap 4 -> chunks [0,8), [4,10)
      (2L, words(3)),   // shorter than one chunk -> single chunk
      (3L, words(8)),   // exactly one chunk
      (4L, words(12)),  // exact tiling: [0,8), [4,12)
      (5L, ""))         // empty -> nothing
      .toDF("doc_id", "text")
    val got = TextQueries.chunkDocuments(docs, "doc_id", "text", 8, 4)
      .select("id", "chunk_id", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(c => (c._3, c._4)).toSeq).toMap
    assert(got(1L) == Seq((8L, words(8)), (6L, words(6, 4))))
    assert(got(2L) == Seq((3L, words(3))))
    assert(got(3L) == Seq((8L, words(8))))
    assert(got(4L) == Seq((8L, words(8)), (8L, words(8, 4))))
    assert(!got.contains(5L), "empty docs emit no chunks")
  }

  test("decontamination flags exactly the docs sharing eval shingles") {
    import graft.operators.TextQueries
    val evalDocs = Seq((100L, "en", "the quick brown fox jumps"))
      .toDF("doc_id", "lang", "text")
    val train = Seq(
      (1L, "en", "a quick brown fox ran off"),   // shares "quick brown fox"
      (2L, "en", "the quick brown fox jumps"),   // near-copy: shares 3 trigrams
      (3L, "en", "entirely different words here"), // clean
      (4L, "en", "fox jumps"),                   // < 3 tokens: no shingles
      (5L, "en", "brown fox jumps high today"))  // shares "brown fox jumps"
      .toDF("doc_id", "lang", "text")
    val got = TextQueries.contaminatedDocs(train, evalDocs, "doc_id", "text", 3,
        carryCols = Seq("lang"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got == Map(1L -> 1L, 2L -> 3L, 5L -> 1L),
      s"expected exact shared-trigram counts, got $got")
    // the operator no longer assumes a lang column exists (ADVICE r9)
    val bare = TextQueries.contaminatedDocs(
        train.drop("lang"), evalDocs, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(bare == Map(1L -> 1L, 2L -> 3L, 5L -> 1L),
      s"lang-free frame must work with no carryCols, got $bare")
  }

  test("operators release their persisted intermediates (no session cache leak)") {
    import org.apache.spark.sql.graft.ColumnBridge
    val docs = Tables.documents(spark, sf)
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.95)
    assert(ColumnBridge.cacheManagerIsEmpty(spark),
      "ngramJaccardPairs must unpersist its docs frame")
    Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.5)
    assert(ColumnBridge.cacheManagerIsEmpty(spark),
      "minhashLshPairs must unpersist its signature frame")
    operators.SimilarityQueries.q23AnnSrp(spark, sf)
    assert(ColumnBridge.cacheManagerIsEmpty(spark),
      "annSrpPairs must unpersist its bits frame")
  }

  test("spanMask: keep-first policy, interval union on overlaps, short docs untouched") {
    val frame = Seq(
      (1L, "a b c d e f g h x y"),       // shares 8-span with doc 2; first arrival keeps
      (2L, "z z a b c d e f g h"),       // masks pos 2..9
      (3L, "tiny doc"),                  // < span width: no shingles
      (4L, "p q r s t u v w x k1"),      // shares a 9-token run with doc 5
      (5L, "k2 p q r s t u v w x")       // two OVERLAPPING 8-spans -> union = 9 tokens
    ).toDF("doc_id", "text")
    val out = Dedup.spanMask(frame, "doc_id", "text", 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_masked") == 0L) // survivor keeps its text
    assert(out(2L).getAs[Long]("n_hits") == 1L)
    assert(out(2L).getAs[Long]("n_masked") == 8L)
    assert(out(2L).getAs[Double]("masked_frac") == 0.8)
    assert(out(3L).getAs[Long]("n_masked") == 0L)
    assert(out(4L).getAs[Long]("n_masked") == 0L)
    assert(out(5L).getAs[Long]("n_hits") == 2L)
    assert(out(5L).getAs[Long]("n_masked") == 9L) // union, not 16
    // kept text hashes: doc 2 keeps "z z", doc 5 keeps "k2"
    import java.security.MessageDigest
    def m(s: String) = MessageDigest.getInstance("MD5").digest(s.getBytes)
      .map("%02x".format(_)).mkString
    assert(out(2L).getAs[String]("kept_hash") == m("z z"))
    assert(out(5L).getAs[String]("kept_hash") == m("k2"))
    assert(out(1L).getAs[String]("kept_hash") == m("a b c d e f g h x y"))
  }

  test("spanMask maxGramDocs drops boilerplate grams, keeps rare ones") {
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8" // shared by ALL three docs
    val frame = Seq(
      (1L, s"$boiler u1 u2 u3 u4 u5 u6 u7 u8"),
      (2L, s"$boiler z1 z2"),
      (3L, s"$boiler u1 u2 u3 u4 u5 u6 u7 u8 tail") // shares the u-span with doc 1
    ).toDF("doc_id", "text")
    // cap at 2 docs: the 3-doc boilerplate gram is dropped; the 2-doc
    // u-span still masks doc 3 (doc 1 is first arrival)
    val out = Dedup.spanMask(frame, "doc_id", "text", 8, maxGramDocs = Some(2L))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_masked")).toMap
    assert(out(2L) == 0L, "capped boilerplate must not mask")
    assert(out(3L) >= 8L, "rare shared span must still mask")
    // uncapped, the boilerplate masks docs 2 and 3
    val exact = Dedup.spanMask(frame, "doc_id", "text", 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_masked")).toMap
    assert(exact(2L) >= 8L)
  }

  test("spanMask keepFirst=false masks every copy including the first") {
    val frame = Seq(
      (1L, "a b c d e f g h x y"),
      (2L, "z z a b c d e f g h")
    ).toDF("doc_id", "text")
    val out = Dedup.spanMask(frame, "doc_id", "text", 8, keepFirst = false)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_masked") == 8L)
    assert(out(2L).getAs[Long]("n_masked") == 8L)
  }

  test("containment join finds the quote direction Jaccard is blind to") {
    val frame = Seq(
      (1L, "alpha beta gamma delta"), // A: 4 distinct tokens
      (2L, "alpha beta gamma delta plus lots of extra words appended here"),
      (3L, "unrelated totally different content entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(frame, "doc_id", "text", n = 1, threshold = 0.9)
      .select($"inner_id", $"outer_id").as[(Long, Long)].collect().toSet
    // c(A→B) = 4/4 = 1.0 qualifies; c(B→A) = 4/11 and J = 4/11 do not —
    // the directional predicate is exactly what q19-style Jaccard misses
    assert(got == Set((1L, 2L)), s"pairs: $got")
  }

  test("mutual containment (identical token sets) reports both directions") {
    val frame = Seq((1L, "x y z"), (2L, "z y x x"), (3L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(frame, "doc_id", "text", 1, 1.0)
      .select($"inner_id", $"outer_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (2L, 1L)), s"pairs: $got")
  }

  test("containment ingest: the folded pair state equals the batch join, both cross directions") {
    val day1 = Seq(
      (1L, "w x y z p q r s t u"), // 10 grams
      (2L, "w x y z")              // ⊂ doc 1 within day 1
    ).toDF("doc_id", "text")
    val day2 = Seq(
      (3L, "w x y c"),                              // 3/4 = .75 — below t everywhere
      (4L, "w x y z a"),                            // 4/5 = .8 into docs 1 and 2
      (5L, "p q r s t u w x y z extra1 extra2")     // ⊇ doc 1
    ).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_cispec_")
    try {
      val path = s"$base/state"
      def ingest(d: org.apache.spark.sql.DataFrame, id: String) =
        Dedup.containmentIngest(spark, path, d, "doc_id", "text",
          n = 1, threshold = 0.8, blockCol = None, batchId = id)
      assert(ingest(day1, "d1"))
      assert(ingest(day2, "d2"))
      assert(!ingest(day2, "d2"), "replayed batch must be a ledger no-op")
      val got = graft.sinks.LedgeredState.readPart(spark, path, "pairs").get
        .select($"inner_id", $"outer_id", $"containment")
        .as[(Long, Long, Double)].collect().toSet
      val want = Dedup.containmentPairs(day1.unionByName(day2),
          "doc_id", "text", 1, 0.8)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == want, s"incremental=$got batch=$want")
      // non-vacuity: BOTH cross directions crossed a batch boundary
      assert(want.exists(p => p._1 == 2L && p._2 == 4L), "old-inner × new-outer")
      assert(want.exists(p => p._1 == 4L && p._2 == 1L), "new-inner × old-outer")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("containment join is exactly the brute-force predicate (zero false negatives)") {
    val base = docs.select(col("doc_id").as("id"),
        array_distinct(tokens(col("text"))).as("g"))
      .filter(size(col("g")) > 0)
    val bf = base.alias("a").join(base.alias("b"), col("a.id") =!= col("b.id"))
      .withColumn("c", size(array_intersect(col("a.g"), col("b.g")))
        .cast("double") / size(col("a.g")))
      .filter(col("c") >= 0.8)
      .select(col("a.id").as("inner_id"), col("b.id").as("outer_id"),
        round(col("c"), 4).as("containment"))
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 1, 0.8)
    assert(got.exceptAll(bf).isEmpty && bf.exceptAll(got).isEmpty,
      s"operator=${got.count()} brute=${bf.count()}")
  }
}
