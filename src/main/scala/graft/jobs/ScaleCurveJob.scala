package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Parquets}
import graft.obs.StageMetrics
import graft.operators.MergeQueries

/** SCALING-CURVE measurement for the hot ingest family — turns the
  * argued 100 TB cost envelopes (SCALE.md) into measured slopes: the
  * exact-dedup and near-dup ingest pipelines run at 1×/3×/10× of the
  * sf fixture's documents corpus and report wall seconds plus bytes
  * shuffled per factor, one JSON line each.
  *
  * Corpus construction: factor k replicates the fixture k times with
  * disjoint id ranges; each replica keeps its INTRA-replica structure
  * (the dup/near-dup neighborhoods the 1× workload has) while a block
  * of replica-unique tokens appended to every text pushes replicas
  * far apart in signature space — so the f× workload approximates f
  * independent copies of the 1× workload, which is exactly the
  * population a linear-scaling engine should handle at slope ≈ 1
  * (wall and shuffle both; a superlinear slope means a join or
  * neighborhood whose cost grows with CORPUS size, not batch size —
  * the thing the curve exists to catch).
  *
  * Both pipelines run the day-split + re-delivery harness of their
  * gates (q65/q68) against the MANIFESTED index layout — the deployed
  * default. Timings include the snapshot writes.
  *
  * Usage: ScaleCurveJob <sfDir> [factors...]   (default 1 3 10) */
object ScaleCurveJob {

  final case class Point(family: String, factor: Int, rows: Long,
                         wallS: Double, shuffleBytes: Long) {
    def toJson: String =
      s"""{"family":"$family","factor":$factor,"rows":$rows,""" +
        s""""wall_s":$wallS,"shuffle_bytes":$shuffleBytes}"""
  }

  /** Replica r: disjoint id range, texts carrying a block of
    * replica-unique tokens (intra-replica distances preserved,
    * inter-replica signatures pushed apart). */
  private def repTag(r: Int): String =
    (0 until 10).map(j => s" zzrep${r}tok$j").mkString

  private def replicaOf(docs: DataFrame, r: Int, maxId: Long,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    docs.withColumn(idCol, col(idCol) + lit(r.toLong * (maxId + 1)))
      .withColumn(textCol, concat(col(textCol), lit(repTag(r))))

  /** The replica a doc belongs to, as a SCOPE column — the curve's
    * stand-in for the lang/source/crawl partitions a real corpus grows
    * by ([[MergeQueries.neardupIngestScopedManifested]]). */
  private def withScope(docs: DataFrame, maxId: Long): DataFrame =
    docs.withColumn("scope",
      (col("doc_id") / lit(maxId + 1)).cast("long").cast("string"))

  /** k disjoint-id replicas (see [[replicaOf]]). */
  def replicate(docs: DataFrame, k: Int, maxId: Long): DataFrame =
    (0 until k).map(replicaOf(docs, _, maxId)).reduce(_ unionByName _)

  def run(spark: SparkSession, sfDir: String,
          factors: Seq[Int] = Seq(1, 3, 10)): Seq[Point] = {
    val docs0 = Parquets.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxId = docs0.agg(max(col("doc_id"))).head().getLong(0)
    factors.flatMap { f =>
      val docs = replicate(docs0, f, maxId).localCheckpoint(true)
      val n = docs.count()
      val cut = f.toLong * (maxId + 1) / 2
      val days = Seq(
        docs.filter(col("doc_id") <= cut),
        docs.filter(col("doc_id") > cut)
          .union(docs.filter(col("doc_id") % 5 === 0)))
      def timed(family: String)(body: String => Unit): Point = {
        val base = java.nio.file.Files.createTempDirectory(s"graft_scale_")
        try {
          val t0 = System.nanoTime()
          val (_, events) = StageMetrics.withStageMetrics(spark) {
            body(s"$base/index")
          }
          val wall = (System.nanoTime() - t0) / 1e9
          Point(family, f, n, math.round(wall * 100) / 100.0,
            events.map(e => e.shuffleReadBytes + e.shuffleWriteBytes).sum)
        } finally {
          val p = new org.apache.hadoop.fs.Path(base.toString)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
      }
      val exact = timed("exact_dedup") { target =>
        days.foreach(day => MergeQueries.dedupIngestManifested(spark, target,
          day.select(col("doc_id"), md5(col("text")).as("content_hash")),
          nBuckets = 32))
      }
      val near = timed("neardup") { target =>
        days.foreach(day => MergeQueries.neardupIngestManifested(spark,
          target, day, "doc_id", "text", nBuckets = 32))
      }
      // the scoped form: bucket keys are (scope, chunk, cval), so the
      // 16-bit chunk-collision term — the measured ~n^1.4 superlinear
      // component of the unscoped curve — is per-SCOPE, and a corpus
      // growing by adding scopes should come back to slope ≈ 1
      val nearScoped = timed("neardup_scoped") { target =>
        days.foreach(day => MergeQueries.neardupIngestScopedManifested(
          spark, target, withScope(day, maxId), "doc_id", "text", "scope",
          nBuckets = 32))
      }
      Seq(exact, near, nearScoped)
    }
  }

  /** The OTHER scale claim, measured: per-DAY ingest cost against a
    * GROWING index. Builds the index at factor f (f× replicas ingested
    * as day 1), then ingests one FIXED-SIZE fresh day (a 1× replica
    * with unseen ids) and measures that day alone. The claim the
    * curve pins: day cost ∝ batch size + collision-neighborhood
    * density, NOT corpus size — the index is probed through its
    * bucket structure (touched buckets / pigeonhole buckets), never
    * scanned. A slope ≫ 0 here means an ingest that re-reads itself. */
  def runDayCost(spark: SparkSession, sfDir: String,
                 factors: Seq[Int] = Seq(1, 3, 10)): Seq[Point] = {
    val docs0 = Parquets.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxId = docs0.agg(max(col("doc_id"))).head().getLong(0)
    factors.flatMap { f =>
      val corpus = replicate(docs0, f, maxId).localCheckpoint(true)
      // the fresh day: replica index f — ids and token block unseen
      val day = replicaOf(docs0, f, maxId).localCheckpoint(true)
      val nDay = day.count()
      def timed(family: String)(prep: String => Unit)(body: String => Unit): Point = {
        val base = java.nio.file.Files.createTempDirectory("graft_scale_")
        try {
          prep(s"$base/index") // build the f× index OUTSIDE the timing
          val t0 = System.nanoTime()
          val (_, events) = StageMetrics.withStageMetrics(spark) {
            body(s"$base/index")
          }
          val wall = (System.nanoTime() - t0) / 1e9
          Point(family, f, nDay, math.round(wall * 100) / 100.0,
            events.map(e => e.shuffleReadBytes + e.shuffleWriteBytes).sum)
        } finally {
          val p = new org.apache.hadoop.fs.Path(base.toString)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
      }
      val exact = timed("exact_dedup_day") { target =>
        MergeQueries.dedupIngestManifested(spark, target,
          corpus.select(col("doc_id"), md5(col("text")).as("content_hash")),
          nBuckets = 32)
      } { target =>
        MergeQueries.dedupIngestManifested(spark, target,
          day.select(col("doc_id"), md5(col("text")).as("content_hash")),
          nBuckets = 32)
      }
      val near = timed("neardup_day") { target =>
        MergeQueries.neardupIngestManifested(spark, target, corpus,
          "doc_id", "text", nBuckets = 32)
      } { target =>
        MergeQueries.neardupIngestManifested(spark, target, day,
          "doc_id", "text", nBuckets = 32)
      }
      // scoped day cost: the day REVISITS scope 0 (replica-0 texts,
      // fresh unseen ids), so its cross-probe touches exactly one
      // scope's buckets of the f×-grown index — the claim this curve
      // pins is day cost ∝ scope size, flat in corpus size
      val dayScoped = day0Revisit(docs0, f, maxId)
      val nearScoped = timed("neardup_scoped_day") { target =>
        MergeQueries.neardupIngestScopedManifested(spark, target,
          withScope(corpus, maxId), "doc_id", "text", "scope", nBuckets = 32)
      } { target =>
        MergeQueries.neardupIngestScopedManifested(spark, target,
          dayScoped, "doc_id", "text", "scope", nBuckets = 32)
      }
      // the UNSCOPED control for the same revisit day (the scoped
      // family above ingests duplicate-heavy content, the fresh-day
      // family novel content — this line makes the scoped/unscoped
      // comparison apples-to-apples: identical day, no scope key)
      val nearRevisit = timed("neardup_revisit_day") { target =>
        MergeQueries.neardupIngestManifested(spark, target, corpus,
          "doc_id", "text", nBuckets = 32)
      } { target =>
        MergeQueries.neardupIngestManifested(spark, target,
          dayScoped.drop("scope"), "doc_id", "text", nBuckets = 32)
      }
      Seq(exact, near, nearScoped, nearRevisit)
    }
  }

  /** The AUTO-REBUCKET day-cost demo ([[SnapshotMaintainJob]]
    * `--rebucket-key`, gate q231): build the exact-dedup index at
    * factor f under a DELIBERATELY small fixed bucket count, ingest a
    * small day and measure it, run the maintain night (which detects
    * the under-bucketing and rebuckets to [[graft.sinks
    * .ManifestMergeSink.bucketCountFor]]'s target), then ingest a
    * second same-sized day and measure that. The claim the pair of
    * points pins: with buckets sized to the corpus, a small day
    * touches ∝ its own key count of the index's bytes instead of all
    * of them — day cost drops although the index only grew. */
  def runRebucketDemo(spark: SparkSession, sfDir: String,
                      factors: Seq[Int] = Seq(10)): Seq[Point] = {
    val docs0 = Parquets.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxId = docs0.agg(max(col("doc_id"))).head().getLong(0)
    factors.flatMap { f =>
      val corpus = replicate(docs0, f, maxId).localCheckpoint(true)
      def smallDay(slot: Int): DataFrame =
        replicaOf(docs0, slot, maxId).limit(150).localCheckpoint(true)
      def hashed(df: DataFrame): DataFrame =
        df.select(col("doc_id"), md5(col("text")).as("content_hash"))
      val base = java.nio.file.Files.createTempDirectory("graft_scale_")
      try {
        val target = s"$base/index"
        MergeQueries.dedupIngestManifested(spark, target, hashed(corpus),
          nBuckets = 32)
        def point(family: String, day: DataFrame): Point = {
          val t0 = System.nanoTime()
          val (_, events) = StageMetrics.withStageMetrics(spark) {
            MergeQueries.dedupIngestManifested(spark, target, hashed(day),
              nBuckets = graft.sinks.ManifestMergeSink
                .headState(spark, target).get._2.nBuckets)
          }
          val wall = (System.nanoTime() - t0) / 1e9
          Point(family, f, 150L, math.round(wall * 100) / 100.0,
            events.map(e => e.shuffleReadBytes + e.shuffleWriteBytes).sum)
        }
        val pre = point("dedup_day_pre_rebucket", smallDay(f))
        // aim near 512 buckets whatever the corpus scale — far above
        // the day's 150 keys, so most buckets go untouched post-night
        val snapRows = graft.sinks.ManifestMergeSink
          .readManifested(spark, target).count()
        val night = SnapshotMaintainJob.run(spark, target,
          SnapshotMaintainJob.SnapshotConfig(
            rebucketKey = Some("content_hash"),
            targetRowsPerBucket = math.max(1L, snapRows / 512L)))
        require(night.rebucketedTo.isDefined,
          s"demo precondition: the night must detect under-bucketing ($night)")
        val post = point("dedup_day_post_rebucket", smallDay(f + 1))
        Seq(pre, post)
      } finally {
        val p = new org.apache.hadoop.fs.Path(base.toString)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
  }

  /** A fresh day that REVISITS scope 0: replica-0 texts (so its
    * signatures collide with scope 0's planted neighborhoods) under
    * unseen ids parked in replica slot f, scope pinned to "0". */
  private def day0Revisit(docs0: DataFrame, f: Int, maxId: Long): DataFrame =
    docs0.select(
      (col("doc_id") + lit(f.toLong * (maxId + 1))).as("doc_id"),
      concat(col("text"), lit(repTag(0))).as("text"))
      .withColumn("scope", lit("0"))

  /** Day-cost curves for the REMAINING incremental families —
    * containment (q192), entity resolution (q127), IVF (q71),
    * vocabulary (q110): build each family's persistent state from an
    * f×-replicated corpus, then ingest ONE fixed-size fresh day and
    * measure that day alone (the [[runDayCost]] protocol). Slopes pin
    * the families' day-cost-vs-corpus-size claims the same way the
    * dedup pair's were pinned in round 16. */
  def runFamilyDayCost(spark: SparkSession, sfDir: String,
                       factors: Seq[Int] = Seq(1, 3, 10)): Seq[Point] = {
    import graft.operators.{Dedup, Ivf, TextQueries}
    val docs0 = Parquets.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val maxDoc = docs0.agg(max(col("doc_id"))).head().getLong(0)
    val sup0 = Parquets.read(spark, s"$sfDir/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"))
    val maxSup = sup0.agg(max(col("s_suppkey"))).head().getLong(0)
    val emb0 = Parquets.read(spark, s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val maxVec = emb0.agg(max(col("id"))).head().getLong(0)
    // SHORT name tag (not repTag): the verify is quadratic Levenshtein
    // in STRING length, so the docs' 110-char token block would make
    // every candidate ~50× costlier than the fixture's names (measured:
    // one task pinned for 15 min at 30×). "x{r}x{r}" differs in ≥2
    // chars (or length) across replicas — no cross-replica ed≤1 pairs —
    // while within-replica neighborhoods keep the fixture's structure.
    def supReplica(r: Int): DataFrame = sup0.select(
      (col("s_suppkey") + lit(r.toLong * (maxSup + 1))).as("s_suppkey"),
      concat(col("s_name"), lit(s" x${r}x$r")).as("s_name"))
    def embReplica(r: Int): DataFrame = emb0.select(
      (col("id") + lit(r.toLong * (maxVec + 1))).as("id"), col("v"))
    factors.flatMap { f =>
      def timed(family: String, nDay: Long)(prep: String => Unit)
               (body: String => Unit): Point = {
        val base = java.nio.file.Files.createTempDirectory("graft_scale_")
        try {
          prep(s"$base/state") // build the f× state OUTSIDE the timing
          val t0 = System.nanoTime()
          val (_, events) = StageMetrics.withStageMetrics(spark) {
            body(s"$base/state")
          }
          val wall = (System.nanoTime() - t0) / 1e9
          Point(family, f, nDay, math.round(wall * 100) / 100.0,
            events.map(e => e.shuffleReadBytes + e.shuffleWriteBytes).sum)
        } finally {
          val p = new org.apache.hadoop.fs.Path(base.toString)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
      }
      // NAMESPACED replicas for the token-SET families: the 10-token
      // repTag block is the right separator for simhash (it moves
      // signature bits) but NOT for containment — c(A→B) = |A∩B|/|A|
      // stays above 0.8 for any doc with >40 distinct tokens, so
      // tagged replicas would containment-pair quadratically across
      // replicas. Independence for set operators means DISJOINT token
      // namespaces: prefix every token with the replica id (one regex
      // per doc; intra-replica structure exactly preserved, cross-
      // replica intersections exactly empty). Vocabulary inherits the
      // honest model too: the counts state GROWS with the corpus (new
      // scopes bring new types), which is the claim worth measuring.
      def nsReplica(r: Int): DataFrame = docs0.select(
        (col("doc_id") + lit(r.toLong * (maxDoc + 1))).as("doc_id"),
        regexp_replace(col("text"), "([\\p{L}\\p{N}]+)", s"z${r}z$$1")
          .as("text"),
        col("lang"), col("source"))
      val dCorpus = ((0 until f).map(nsReplica)
        .reduce(_ unionByName _)).localCheckpoint(true)
      val dDay = nsReplica(f).localCheckpoint(true)
      val nDocs = dDay.count()
      // containment (q192's parameters: unigrams, t=0.8, source blocks)
      val contain = timed("containment_day", nDocs) { path =>
        Dedup.containmentIngest(spark, path, dCorpus, "doc_id", "text",
          n = 1, threshold = 0.8, blockCol = Some("source"), batchId = "b0")
      } { path =>
        Dedup.containmentIngest(spark, path, dDay, "doc_id", "text",
          n = 1, threshold = 0.8, blockCol = Some("source"), batchId = "day")
      }
      // vocabulary (q110): counts state grows with the corpus VOCAB
      val vocab = timed("vocab_day", nDocs) { path =>
        TextQueries.vocabIngest(spark, path, dCorpus, "b0", "lang", "text")
      } { path =>
        TextQueries.vocabIngest(spark, path, dDay, "day", "lang", "text")
      }
      // vocabulary through the MANIFESTED fold (q234) — the state-
      // bounded form whose day cost should stay ∝ batch vocab +
      // touched buckets while the ledgered fold above grows with
      // |state| (the growth line this family exists to close)
      val vocabMerge = timed("vocab_merge_day", nDocs) { path =>
        TextQueries.vocabIngestManifested(spark, path, dCorpus, 1L,
          "lang", "text", nBuckets = 64)
      } { path =>
        TextQueries.vocabIngestManifested(spark, path, dDay, 2L,
          "lang", "text", nBuckets = 64)
      }
      // entity resolution (q127): the manifested supplier-name registry
      val supCorpus = ((0 until f).map(supReplica)
        .reduce(_ unionByName _)).localCheckpoint(true)
      val supDay = supReplica(f).localCheckpoint(true)
      val entity = timed("entity_day", supDay.count()) { path =>
        MergeQueries.entityIngestManifested(spark, path, supCorpus,
          "s_suppkey", "s_name", nBuckets = 32)
      } { path =>
        MergeQueries.entityIngestManifested(spark, path, supDay,
          "s_suppkey", "s_name", nBuckets = 32)
      }
      // IVF (q71): the centroid model fits once on the f× corpus; the
      // day is assigned by the same model and appended per list
      val embCorpus = ((0 until f).map(embReplica)
        .reduce(_ unionByName _)).localCheckpoint(true)
      val embDay = embReplica(f).localCheckpoint(true)
      var model: org.apache.spark.ml.clustering.KMeansModel = null
      val ivf = timed("ivf_day", embDay.count()) { path =>
        val built = Ivf.build(embCorpus, "id", "v", nlist = 16,
          fitSampleRows = 20000)
        model = built.model
        Ivf.writeIndex(built, path)
      } { path =>
        Ivf.ingest(spark, path, model, embDay, "id", "v")
      }
      Seq(contain, vocab, vocabMerge, entity, ivf)
    }
  }

  /** VOCAB TRICKLE-REGIME measurement (the r17 verdict's item 2): the
    * manifested vocab fold's touched-bucket claim holds only when the
    * day's type count is SMALL against the bucket count — a corpus-
    * sized day covers the Zipf head and touches every bucket (the
    * regime SCALE.md's q234 addendum records). This mode BUILDS that
    * trickle regime and measures it: state at ~10⁵ types under
    * health-fitted buckets ([[graft.sinks.ManifestMergeSink
    * .bucketCountFor]] at 8 rows/bucket → 16384 buckets), one ~10³-type
    * day ingested through BOTH folds. Reported per fold: wall, shuffle
    * bytes, and (manifested) touched buckets vs nBuckets plus state
    * rows rewritten vs the ledgered fold's full |state| rewrite. */
  def runVocabTrickle(spark: SparkSession, sfDir: String): Seq[Point] = {
    import graft.operators.TextQueries
    import graft.sinks.ManifestMergeSink
    import graft.functions.TextFunctions
    val docs0 = Parquets.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val maxDoc = docs0.agg(max(col("doc_id"))).head().getLong(0)
    // disjoint token namespaces per replica (the runFamilyDayCost
    // discipline): replica f's types are ALL new — the day below is a
    // pure type trickle, no Zipf-head overlap with the state
    def nsReplica(r: Int): DataFrame = docs0.select(
      (col("doc_id") + lit(r.toLong * (maxDoc + 1))).as("doc_id"),
      regexp_replace(col("text"), "([\\p{L}\\p{N}]+)", s"z${r}z$$1")
        .as("text"),
      col("lang"))
    def nTypes(df: DataFrame): Long = df
      .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .distinct().count()
    val baseTypes = nTypes(docs0)
    val f = math.max(1, math.ceil(100000.0 / baseTypes).toInt)
    val corpus = (0 until f).map(nsReplica).reduce(_ unionByName _)
      .localCheckpoint(true)
    // ~10³-type day: the fixture's templated text caps one namespace at
    // ~155 types, so the day spans SEVEN fresh namespaces (7 × 155 ≈
    // 1.1k new types — the trickle the claim is about)
    val day = (f until f + 7).map(r => nsReplica(r).limit(100))
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    val stateTypes = nTypes(corpus)
    val dayTypes = nTypes(day)
    val nBuckets = ManifestMergeSink.bucketCountFor(stateTypes, 8L)
    def timed(family: String, rows: Long)(prep: String => Unit)
             (body: String => Unit): (Point, String) = {
      val base = java.nio.file.Files.createTempDirectory("graft_trickle_")
      val path = s"$base/state"
      prep(path)
      val t0 = System.nanoTime()
      val (_, events) = StageMetrics.withStageMetrics(spark) { body(path) }
      val wall = (System.nanoTime() - t0) / 1e9
      (Point(family, f, rows, math.round(wall * 100) / 100.0,
        events.map(e => e.shuffleReadBytes + e.shuffleWriteBytes).sum),
        path)
    }
    // manifested fold: touched-bucket day
    val (mPoint, mPath) = timed("vocab_trickle_manifested", dayTypes) { p =>
      TextQueries.vocabIngestManifested(spark, p, corpus, 1L,
        "lang", "text", nBuckets)
    } { p =>
      TextQueries.vocabIngestManifested(spark, p, day, 2L,
        "lang", "text", nBuckets)
    }
    // touched buckets: commits carry full mappings — diff head-1 vs head
    val seqs = ManifestMergeSink.commitSeqs(spark, mPath)
    val touched = {
      val a = ManifestMergeSink.stateAt(spark, mPath, seqs.init.last)
        .get.mapping
      val b = ManifestMergeSink.stateAt(spark, mPath, seqs.last)
        .get.mapping
      b.count { case (k, v) => !a.get(k).contains(v) }
    }
    // ledgered fold: full |state| rewrite per day
    val (lPoint, _) = timed("vocab_trickle_ledgered", dayTypes) { p =>
      TextQueries.vocabIngest(spark, p, corpus, "b0", "lang", "text")
    } { p =>
      TextQueries.vocabIngest(spark, p, day, "day", "lang", "text")
    }
    println(s"""{"family":"vocab_trickle_meta","state_types":$stateTypes,""" +
      s""""day_types":$dayTypes,"n_buckets":$nBuckets,""" +
      s""""touched_buckets":$touched,"replicas":$f}""")
    Seq(mPoint, lPoint)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ScaleCurveJob <sfDir> [--day-cost|--rebucket-demo|" +
        "--family-day-cost|--vocab-trickle] [factors...]")
    val rest = args.drop(1).toSeq
    val dayCost = rest.contains("--day-cost")
    val familyDayCost = rest.contains("--family-day-cost")
    val rebucketDemo = rest.contains("--rebucket-demo")
    val vocabTrickle = rest.contains("--vocab-trickle")
    val factorArgs = rest.filterNot(a =>
      a == "--day-cost" || a == "--rebucket-demo" ||
        a == "--family-day-cost" || a == "--vocab-trickle")
    val factors =
      if (factorArgs.nonEmpty) factorArgs.map(_.toInt)
      else if (rebucketDemo) Seq(10)
      else Seq(1, 3, 10)
    val spark = GraftSession.builder().getOrCreate()
    try {
      val pts = if (rebucketDemo) runRebucketDemo(spark, args(0), factors)
                else if (familyDayCost) runFamilyDayCost(spark, args(0), factors)
                else if (vocabTrickle) runVocabTrickle(spark, args(0))
                else if (dayCost) runDayCost(spark, args(0), factors)
                else run(spark, args(0), factors)
      pts.foreach(p => println(p.toJson))
    } finally spark.stop()
  }
}
