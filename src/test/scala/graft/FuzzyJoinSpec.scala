package graft

import org.apache.spark.sql.functions._
import graft.operators.FuzzyJoin

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference: classic DP edit distance. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def brute(names: Seq[(Long, String)]): Set[(Long, Long, Long)] =
    (for {
      (ia, na) <- names; (ib, nb) <- names if ia < ib
      d = lev(na, nb) if d <= 1
    } yield (ia, ib, d.toLong)).toSet

  test("deletion variants: the string plus each single deletion, distinct") {
    val got = Seq("abca").toDF("s")
      .select(FuzzyJoin.deletionVariants(col("s"))).as[Seq[String]].head().toSet
    assert(got == Set("abca", "bca", "aca", "aba", "abc"))
    val empty = Seq("").toDF("s")
      .select(FuzzyJoin.deletionVariants(col("s"))).as[Seq[String]].head()
    assert(empty == Seq("")) // sequence(1,0) descends — pinned guarded
  }

  test("edOnePairs equals brute-force levenshtein on every ed<=1 shape") {
    // equal pair, substitution, deletion, insertion, an ed>=2 reject, empty
    val names: Seq[(Long, String)] = Seq(
      1L -> "alpha", 2L -> "alpha", 3L -> "alphb", 4L -> "alpa",
      5L -> "alphax", 6L -> "alxyz", 7L -> "beta", 8L -> "beta1",
      9L -> "betta", 10L -> "", 11L -> "a")
    val got = FuzzyJoin.edOnePairs(names.toDF("id", "name"), "id", "name")
      .select(col("id_a"), col("id_b"), col("ed"))
      .as[(Long, Long, Long)].collect().toSet
    val want = brute(names)
    assert(got == want, s"got $got\nwant $want")
    assert(want.exists(_._3 == 0) && want.exists(_._3 == 1))
  }

  test("randomized completeness: blocked join == quadratic reference") {
    val rnd = new scala.util.Random(42)
    val names = (1L to 80L).map(i =>
      i -> (0 until rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString)
    val got = FuzzyJoin.edOnePairs(names.toDF("id", "name"), "id", "name")
      .select(col("id_a"), col("id_b"), col("ed"))
      .as[(Long, Long, Long)].collect().toSet
    val want = brute(names)
    assert(got == want)
    assert(want.size > 100, s"fixture too sparse to certify anything: ${want.size}")
  }

  test("hot-bucket governor: capped result is a subset; loose cap is identity") {
    val names: Seq[(Long, String)] =
      Seq(1L -> "aaa", 2L -> "aab", 3L -> "aba", 4L -> "abb", 5L -> "zzz")
    val df = names.toDF("id", "name")
    val full = FuzzyJoin.edOnePairs(df, "id", "name")
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val capped = FuzzyJoin.edOnePairs(df, "id", "name", maxBucketSize = Some(1))
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val loose = FuzzyJoin.edOnePairs(df, "id", "name", maxBucketSize = Some(1000))
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(full) && capped != full) // governor really drops
    assert(loose == full)
  }

  // ---- q127: incremental entity resolution ----

  private def withRegistry(f: String => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_entity_spec_")
    try f(s"$base/registry")
    finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  private def registry(target: String): Set[(Long, String, Long)] = {
    import spark.implicits._
    graft.sinks.ManifestMergeSink.readManifested(spark, target)
      .select(col("key_id"), col("name"), col("entity_id"))
      .as[(Long, String, Long)].collect().toSet
  }

  test("entityIngest: a later arrival BRIDGES two registered entities (remap)") {
    import spark.implicits._
    // "abc" and "ayz" are ed 2 apart (separate entities on day 1);
    // "abz" is ed 1 from BOTH — day 2 must merge them under min id 5
    val day1 = Seq(5L -> "abc", 9L -> "ayz", 42L -> "zzzzz").toDF("id", "name")
    val day2 = Seq(7L -> "abz", 9L -> "ayz" /* re-delivery */).toDF("id", "name")
    withRegistry { target =>
      operators.MergeQueries.entityIngestManifested(spark, target, day1, "id", "name",
        nBuckets = 4)
      assert(registry(target) == Set(
        (5L, "abc", 5L), (9L, "ayz", 9L), (42L, "zzzzz", 42L)))
      operators.MergeQueries.entityIngestManifested(spark, target, day2, "id", "name",
        nBuckets = 4)
      assert(registry(target) == Set(
        (5L, "abc", 5L), (9L, "ayz", 5L), (7L, "abz", 5L), (42L, "zzzzz", 42L)))
    }
  }

  test("entityIngest: arrival order and batch/incremental split are invisible") {
    import spark.implicits._
    val rows = Seq(5L -> "abc", 9L -> "ayz", 7L -> "abz", 42L -> "zzzzz",
      43L -> "zzzzz", 44L -> "zzzz")
    def runAs(batches: Seq[Seq[(Long, String)]]): Set[(Long, String, Long)] = {
      var out: Set[(Long, String, Long)] = Set.empty
      withRegistry { target =>
        batches.foreach(b => operators.MergeQueries.entityIngestManifested(
          spark, target, b.toDF("id", "name"), "id", "name", nBuckets = 4))
        out = registry(target)
      }
      out
    }
    val batch = runAs(Seq(rows))
    assert(runAs(rows.map(Seq(_))) == batch)          // one row per day
    assert(runAs(Seq(rows.reverse.take(3), rows.reverse.drop(3))) == batch)
    assert(batch.forall { case (k, _, e) => e <= k }) // entity is a component min
    assert(batch.count(_._3 == 5L) == 3 && batch.count(_._3 == 42L) == 3)
  }

  test("q124 gate is non-vacuous and no variant bucket nears the governor scale") {
    val pairs = FuzzyJoin.q124FuzzyNames(spark, sf)
    assert(pairs.filter(col("ed") === 1).count() > 20)
    // fixture bucket ceiling stays far from any production cap one would set
    val maxBucket = Tables.supplier(spark, sf)
      .select(explode(FuzzyJoin.deletionVariants(col("s_name"))).as("v"))
      .groupBy(col("v")).count().agg(max(col("count"))).as[Long].head()
    assert(maxBucket < 32, s"variant bucket unexpectedly hot: $maxBucket")
  }
}
