package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate STRING joins — fuzzy key matching for record linkage and
  * entity resolution (the "same supplier, typo'd name" problem every
  * multi-source corpus ingest hits; the reference's Mongo upsert assumes
  * exact keys, reference mongo.py:103-163, so this is the extension that
  * makes its keyed-merge semantics survive dirty keys).
  *
  * Algorithm: deletion-neighborhood blocking (FastSS — Bocek et al.,
  * "Fast Similarity Search in Large Dictionaries", 2007, public). Every
  * string emits itself plus each single-character deletion; two strings
  * within edit distance 1 are GUARANTEED to share a variant:
  *   - equal strings share themselves;
  *   - b = delete(a, i): a's deletion at i IS b (b emits itself);
  *   - b = substitute(a, i): deleting position i from both yields the
  *     same string;
  *   - insertion is the deletion case mirrored.
  * So an equi-join on the variant key finds ALL candidates (zero false
  * negatives), and an exact `levenshtein` verify on the candidate pairs
  * removes the false positives (variant sharing only bounds ed <= 2).
  *
  * Scale: the quadratic form (every pair × levenshtein — the oracle's
  * formulation) is O(n²) and dead at 10⁹ keys; this plan is
  * explode (narrow, len+1 variants per key) → one shuffle on the variant
  * key → bucket self-join → per-candidate verify. Candidate volume is
  * Σ_buckets B², bounded by blocking — and `maxBucketSize` is the same
  * hot-bucket governor as [[Dedup.simhashPairsFromSigs]]: a degenerate
  * key population (millions of rows one deletion apart, e.g. templated
  * IDs) can blow one bucket's B² fan-out; dropping buckets over the cap
  * trades bounded recall for a hard join bound. None = exact recall
  * (the gated oracle form). The verify filter runs BEFORE the pair
  * distinct, so failed candidates never enter the distinct's shuffle
  * (most candidates are ed=2: same discipline as the Hamming verify).
  */
object FuzzyJoin {

  /** The string plus every single-character deletion, distinct. A string
    * of length L yields <= L+1 variants (repeated characters collapse —
    * deleting either char of "oo" gives the same variant). */
  def deletionVariants(s: Column): Column = {
    val dels = transform(sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))
    // sequence(1, 0) would DESCEND ([1,0]) for the empty string — guard it
    array_distinct(when(length(s) === 0, array(s))
      .otherwise(concat(array(s), dels)))
  }

  /** All pairs of `df` rows whose `strCol` values are within edit
    * distance 1 (including exact duplicates), as
    * (id_a, id_b, name_a, name_b, ed) with id_a < id_b. */
  def edOnePairs(df: DataFrame, idCol: String, strCol: String,
                 maxBucketSize: Option[Int] = None,
                 scopeCols: Seq[String] = Nil): DataFrame = {
    val v0 = df.select(col(idCol).as("id") +: scopeCols.map(col) :+
        col(strCol).as("name"): _*)
      .withColumn("variant", explode(deletionVariants(col("name"))))
    val v = maxBucketSize match {
      case None => v0
      case Some(cap) =>
        // window, not groupBy+join-back (the simhash governor's argument:
        // one shuffle on the same key the self-join hashes on anyway)
        v0.withColumn("bsz", count(lit(1)).over(
            Window.partitionBy((scopeCols :+ "variant").map(col): _*)))
          .filter(col("bsz") <= cap).drop("bsz")
    }
    // scopeCols join into the blocking key ([[Dedup.simhashCrossPairs]]'s
    // extraKeys discipline): pairs never cross scopes, so variant-bucket
    // populations — and the quadratic candidate term — stay scope-sized
    val joinCond = (scopeCols :+ "variant")
      .map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _) && col("a.id") < col("b.id")
    v.alias("a")
      .join(v.alias("b"), joinCond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      .withColumn("ed", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("ed") <= 1)
      .distinct()
  }

  /** ed<=1 candidate pairs BETWEEN two frames, both shaped (id, name)
    * with DISJOINT id sets: one row per qualifying (probe id1, index
    * id2). The incremental-ingest probe ([[MergeQueries.entityIngestManifested]])
    * — [[Dedup.simhashCrossPairs]]'s role for the fuzzy-key family.
    * The governor caps INDEX-side variant buckets (the corpus-sized
    * side; at scale the index stores its variants pre-exploded and
    * bucketed, so a day's probe shuffles only batch variants — the
    * signature-store layout argument, applied to deletion variants). */
  def edOneCrossPairs(probe: DataFrame, index: DataFrame,
                      maxBucketSize: Option[Int] = None,
                      scopeCols: Seq[String] = Nil): DataFrame = {
    def vf(df: DataFrame) = df
      .select(col("id") +: scopeCols.map(col) :+ col("name"): _*)
      .withColumn("variant", explode(deletionVariants(col("name"))))
    val b0 = vf(index)
    val b = maxBucketSize match {
      case None => b0
      case Some(cap) =>
        b0.withColumn("bsz", count(lit(1)).over(
            Window.partitionBy((scopeCols :+ "variant").map(col): _*)))
          .filter(col("bsz") <= cap).drop("bsz")
    }
    val joinCond = (scopeCols :+ "variant")
      .map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _)
    vf(probe).alias("a")
      .join(b.alias("b"), joinCond)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.name").as("name1"), col("b.name").as("name2"))
      .filter(levenshtein(col("name1"), col("name2")) <= 1)
      .select(col("id1"), col("id2"))
      .distinct()
  }

  /** q124: fuzzy self-join of supplier names — every pair of suppliers
    * whose names differ by at most one edit. The fixture's sequential
    * zero-padded names guarantee a dense ed=1 pair population (any two
    * keys differing in one digit). The oracle certifies the blocked plan
    * against the NAIVE quadratic formulation (cross join + levenshtein)
    * — the q47 pattern: the rewrite is semantics-free by gate. */
  def q124FuzzyNames(spark: SparkSession, dir: String): DataFrame =
    edOnePairs(Tables.supplier(spark, dir), "s_suppkey", "s_name")
      .orderBy(col("id_a"), col("id_b"))

  val q124FuzzyNamesSql: String =
    """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
      |  a.s_name AS name_a, b.s_name AS name_b,
      |  levenshtein(a.s_name, b.s_name)::BIGINT AS ed
      |FROM supplier a, supplier b
      |WHERE a.s_suppkey < b.s_suppkey AND levenshtein(a.s_name, b.s_name) <= 1
      |ORDER BY id_a, id_b""".stripMargin
}
