package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Parquets, Tables}
import graft.sinks.MergeSink

/** Oracle-checkable projection of the merge/upsert semantics over the
  * fixtures: `orders` is the target collection, an aggregate of `lineitem`
  * is the update set (plus synthetic unmatched keys to exercise inserts,
  * and a null status column to exercise null-skip). The timestamps are
  * pinned so the result is deterministic; the production path stamps the
  * merge's own instant (see [[graft.sinks.MergeSink.stampNow]]).
  */
object MergeQueries {

  private val fields = Seq("o_totalprice", "o_orderstatus")

  /** The per-scope cap-sizing quantile ([[Dedup.scopeGovernorCaps]]) the
    * gates run at. Deployment sizing is p99.9 — on a web-scale scope
    * the bucket population is ~10⁵ (bounded by the 4·65536 chunk
    * space), so p99.9 cuts only the degenerate tail. The fixture's
    * scopes have ~100-300 buckets, where p99.9 IS the max (a cap that
    * never engages — a vacuous certificate), so the gates size at p99:
    * measured at sf0.01 that yields caps 3-12 that engage on the three
    * larger scopes (en 77→68 pairs, es 33→29, fr 13→12) while the small
    * scopes stay exact — recall ≥ 0.88 per scope against the
    * [[CapMinRecall]] = 0.8 floor.
    *
    * Declared at the TOP of the object: vals initialize in declaration
    * order, and the oracle-SQL vals interpolate these — a forward
    * reference would interpolate 0.0 silently (the q235 r18 bug). */
  private[operators] val CapQuantile = 0.99
  private[operators] val CapMinRecall = 0.8

  def q14MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .withColumn("updatedAt", to_timestamp(lit("2025-01-01 00:00:00")))
    val updates = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      // round at 4 decimals: the addends carry exactly 4 decimal digits
      // (price 2dp x discount 2dp), so a 2dp round would tie on half-cents
      // and flip with summation order; 4dp can never tie.
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("o_totalprice"))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string")).otherwise(lit("U")))
      .unionByName(
        Tables.orders(spark, dir)
          .filter(col("o_orderkey") % 100 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit(1.0).as("o_totalprice"), lit("N").as("o_orderstatus")))
    MergeSink.mergePlan(orders, updates, "o_orderkey", fields,
        now = to_timestamp(lit("2026-01-01 00:00:00")))
      .orderBy(col("o_orderkey"))
  }

  val q14MergeUpsertSql: String =
    """WITH upd AS (
      |  SELECT l_orderkey AS o_orderkey,
      |         round(sum(l_extendedprice * (1 - l_discount)), 4) AS o_totalprice,
      |         CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE 'U' END AS o_orderstatus
      |  FROM lineitem GROUP BY l_orderkey
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, 1.0, 'N' FROM orders WHERE o_orderkey % 100 = 0
      |)
      |SELECT coalesce(t.o_orderkey, u.o_orderkey) AS o_orderkey,
      |  coalesce(u.o_totalprice, t.o_totalprice) AS o_totalprice,
      |  coalesce(u.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
      |  CASE WHEN u.o_orderkey IS NOT NULL THEN TIMESTAMP '2026-01-01 00:00:00'
      |       ELSE TIMESTAMP '2025-01-01 00:00:00' END AS "updatedAt"
      |FROM orders t FULL OUTER JOIN upd u ON t.o_orderkey = u.o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  /** q65: INCREMENTAL exact dedup against a persistent snapshot — the
    * nightly-ingest composition a growing corpus actually runs. Each
    * "day" (the fixture split at the median doc_id, so arrival order
    * follows id order):
    *
    *  1. dedups its own batch (min doc_id per content hash, q15's rule);
    *  2. anti-joins the historical hash index — only hashes the corpus
    *     has never seen survive (a matched hash must KEEP its original
    *     survivor, so this is an anti-join, not an upsert overwrite);
    *  3. merges the fresh hashes into the snapshot
    *     ([[dedupIngestManifested]] — the reference's own bulk-upsert
    *     shape, here building a dedup INDEX instead of a document
    *     store).
    *
    * Because days are id-ordered, first-arrival survivors coincide with
    * global min-doc_id survivors, so the final index must equal batch
    * dedup of the whole corpus EXACTLY — the gate is row-level (every
    * content hash + its survivor), not a count.
    *
    * Scale: the dedup state lives in the snapshot, not in executor
    * memory — per-day cost is one batch groupBy + one anti-join against
    * the index (co-located and exchange-free on the index side with the
    * bucketed-table variant, `mergeIntoBucketed`), exactly how a 100 TB
    * corpus dedups an incremental delivery without re-reading itself. */
  /** One incremental-dedup ingest step (steps 1-3 of the q65 doc)
    * against a BUCKETED catalog-table index: the batch dedups itself,
    * anti-joins the index, merges only never-seen hashes. A hash already
    * in the index keeps its original survivor — arrival order decides,
    * which is the production semantic (the first delivery of a document
    * wins; later re-deliveries are the duplicates). Input must carry
    * (`doc_id`, `content_hash`). The index is written
    * `bucketBy(content_hash)` once, so the per-day anti-join and merge
    * read the (large) index side pre-partitioned with NO exchange; only
    * the day's batch shuffles.
    *
    * LAYOUT CHOICE: this form and its part+bucketed sibling publish
    * through rename swaps — single-writer, rename-dependent. The
    * DEFAULT is [[dedupIngestManifested]] (the commit-log layout, q65's
    * primary gate): rename-free (object-store-safe), publish atomic
    * across all touched buckets, and correct under concurrent writers
    * (q209); the swap forms are explicitly-chosen COMPAT modes, still
    * gated (q204 bucketed, q83 part+bucketed) so unmigrated pipelines
    * stay row-for-row correct. */
  def dedupIngestBucketed(spark: SparkSession, table: String,
                          batch: DataFrame, nBuckets: Int): MergeSink.MergeStats = {
    val uniq = batch.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
    val fresh =
      if (spark.catalog.tableExists(table))
        uniq.join(spark.table(table).select(col("content_hash")),
          Seq("content_hash"), "left_anti")
      else uniq
    // fresh is groupBy(content_hash)-keyed (± an anti-join) — one row
    // per key; skip the fold window
    MergeSink.mergeIntoBucketed(spark, table, fresh, "content_hash",
      Seq("doc_id"), nBuckets, updatesUnique = true)
  }

  /** [[dedupIngestBucketed]] against the COMPOSED partitioned+bucketed index
    * ([[MergeSink.mergeIntoPartitionedBucketed]]): the anti-join probe
    * prunes to the batch's `pd=` directories (a hash's directory is
    * deterministic — re-delivered keys can only collide there) AND
    * reads them bucketed on the key, so the probe and the
    * merge both run with no exchange on the index side while touching
    * only the directories the day's hashes land in. */
  def dedupIngestPartBucketed(spark: SparkSession, table: String,
                              batch: DataFrame, nParts: Int,
                              nBuckets: Int): MergeSink.MergeStats = {
    val uniq = batch.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .localCheckpoint(true) // probed for dirs, then anti-joined
    val fresh =
      if (spark.catalog.tableExists(table)) {
        val touched = graft.Sparks.distinctLongs(uniq,
          pmod(xxhash64(col("content_hash")), lit(nParts.toLong))).toArray
        uniq.join(
          spark.table(table)
            .filter(col("pd").isin(touched.map(java.lang.Long.valueOf): _*))
            .select(col("content_hash")),
          Seq("content_hash"), "left_anti")
      } else uniq
    // fresh is groupBy(content_hash)-keyed (± an anti-join) — one row
    // per key; skip the fold window
    MergeSink.mergeIntoPartitionedBucketed(spark, table, fresh,
      "content_hash", Seq("doc_id"), nParts, nBuckets, updatesUnique = true)
  }

  /** q83: the q65 day-split + re-delivery harness through the COMPOSED
    * partitioned+bucketed layout — the fourth physical form under the
    * driver's gate (pruned directory IO AND exchange-free index joins
    * at once). Same oracle as q65/q73: the final index must equal batch
    * dedup of the whole corpus row-for-row. */
  def q83IncrDedupPartBucketed(spark: SparkSession, dir: String): DataFrame = {
    val table = "graft_q83_idx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try
      dedupDays(spark, dir)(day => dedupIngestPartBucketed(spark, table, day,
        nParts = 4, nBuckets = 8))(spark.table(table))
    finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  // def, not val: q65IncrDedupSql is declared below (object vals
  // initialize in order — a val here would capture null)
  def q83IncrDedupPartBucketedSql: String = q65IncrDedupSql

  /** The q65 day-split + re-delivery harness, shared by every exact
    * incremental-dedup gate (q65, q73, q83, q204): the fixture split at
    * half the max doc_id into two "days" (a one-scalar probe — gate
    * harness, not operator code; a real ingest receives its batches),
    * day 2 RE-DELIVERING every 5th document (same rows again) — the
    * at-least-once upstream the anti-join exists for; without it the
    * fixture's all-unique texts would leave the protection untested.
    * Re-delivered rows are byte-identical, so the oracle (plain batch
    * dedup, [[q65IncrDedupSql]]) is unchanged. `ingest` runs once per
    * day; `index` reads the final index, which is materialized before
    * the caller drops its storage. */
  private def dedupDays(spark: SparkSession, dir: String)(
      ingest: DataFrame => Any)(index: => DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    Seq(
      docs.filter(col("doc_id") <= cut),
      docs.filter(col("doc_id") > cut)
        .union(docs.filter(col("doc_id") % 5 === 0)))
      .foreach(ingest)
    index
      .select(col("content_hash"), col("doc_id").as("survivor_id"))
      .orderBy(col("content_hash"))
      .localCheckpoint(true) // materialize before the index storage dies
  }

  /** A temp dir for one gate run, deleted after `body` (whose result
    * must already be materialized). */
  private def withTempDir[A](spark: SparkSession, prefix: String)(
      body: String => A): A = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    try body(base.toString)
    finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  def q65IncrDedup(spark: SparkSession, dir: String): DataFrame =
    // Routed through the MANIFESTED index (dedupIngestManifested) —
    // the deployed DEFAULT since the commit-log migration: rename-free
    // one-commit publish, object-store-safe, CAS-correct under
    // concurrent writers (q209). The q28 precedent: gate through the
    // layout you'd actually deploy. The swap layouts stay gated as
    // explicit compat modes (q83 part+bucketed, q204 bucketed).
    withTempDir(spark, "graft_q65_") { base =>
      val target = s"$base/dedup_index"
      dedupDays(spark, dir)(day =>
        dedupIngestManifested(spark, target, day, nBuckets = 16))(
        graft.sinks.ManifestMergeSink.readManifested(spark, target))
    }

  val q65IncrDedupSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id)::BIGINT AS survivor_id
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** q73: the q65 day-split + re-delivery harness through the
    * hash-bucketed manifested index ([[dedupIngestManifested]]) at a
    * different bucket count than q65's — the bounded-IO merge
    * (touched-bucket reads, touched-bucket rewrites, one commit per
    * day) preserves the exact first-arrival semantics of the
    * full-rewrite forms. The `_part` in the gate's name is the
    * hash-partitioned rename-swap layout it drove until that layout was
    * retired (SCALE.md); gate names stay fixed. Same oracle as q65: the
    * final index must equal batch dedup of the whole corpus row-for-row. */
  def q73IncrDedupPart(spark: SparkSession, dir: String): DataFrame =
    withTempDir(spark, "graft_q73_") { base =>
      val target = s"$base/dedup_index"
      dedupDays(spark, dir)(day =>
        dedupIngestManifested(spark, target, day, nBuckets = 8))(
        graft.sinks.ManifestMergeSink.readManifested(spark, target))
    }

  val q73IncrDedupPartSql: String = q65IncrDedupSql

  /** q68: INCREMENTAL near-dup dedup against a persistent SIGNATURE
    * index — q65's nightly-ingest pattern extended from exact hashes to
    * the simhash near-dup family. The index stores one row per seen doc:
    * (doc_id, sh_lo, sh_hi, survivor_id), where survivor_id is the min
    * doc_id of the doc's near-dup cluster so far (the q52 canonical
    * survivor). Each ingest batch:
    *
    *  1. drops re-delivered doc_ids (already indexed — at-least-once
    *     upstream protection, q65's anti-join argument);
    *  2. computes batch signatures ([[Dedup.simhashSignatures]]) and the
    *     TOUCHED subgraph's edges: batch-internal pairs
    *     ([[Dedup.simhashPairs]] semantics over the batch), batch→index
    *     pairs ([[Dedup.simhashCrossPairs]]), and one (old doc →
    *     its survivor) edge per probed index doc — each existing cluster
    *     is already a star around its survivor, so the star edge carries
    *     the whole cluster's connectivity (and its min id) into the
    *     round without touching unprobed rows;
    *  3. runs [[Dedup.connectedComponents]] over those edges ONLY —
    *     cost bounded by the batch's collision neighborhood, never the
    *     corpus;
    *  4. merges into the snapshot:
    *     new docs insert with survivor = their component min; existing
    *     rows whose cluster was merged into a smaller-id cluster (a new
    *     doc BRIDGED two old clusters, or an out-of-order arrival undercut
    *     the old min) update survivor_id via the old→new survivor map.
    *
    * Induction invariant: survivor_id is the min doc_id over the doc's
    * full near-dup component of everything ingested so far. Step 2's
    * star edges preserve old connectivity, step 3's component min
    * includes every affected old survivor (each a true cluster min), so
    * the invariant survives ANY arrival order — the final index equals
    * batch clustering of the whole corpus row-for-row, which is exactly
    * what the gate checks (and MergePropsSpec re-checks with shuffled
    * arrival order).
    *
    * Scale: the index never rewrites wholesale — the merge updates only
    * bridged clusters' rows (bounded by merge events) and appends the
    * batch; the probe join is bucketed-bounded (see
    * [[Dedup.simhashCrossPairs]]); CC runs on the touched subgraph.
    *
    * Layout: the MANIFEST-POINTER index ([[graft.sinks.ManifestMergeSink]])
    * — q68's gate and the q72/q233 streams' target
    * ([[graft.streaming.StreamingFold]]): the index publishes through one
    * commit-file create (rename-free, object-store-safe, atomic across
    * every bucket the batch touched) and the probe/merge IO stays
    * touched-bucket-bounded. The whole subgraph derivation runs inside
    * the merge's CAS recompute seam ([[IndexStore.mergeDerived]]), so
    * two racing writers converge to sequential semantics (q236). The
    * bucketed catalog-table store ([[neardupIngestSigsBucketed]], gated
    * by q103's media-sig family) is the one compat layout. */
  def neardupIngestManifested(spark: SparkSession, target: String,
                              batch: DataFrame, idCol: String,
                              textCol: String, nBuckets: Int,
                              maxHamming: Int = 3,
                              beforePublish: () => Unit = () => ())
      : MergeSink.MergeStats =
    neardupIngestSigsManifested(spark, target,
      Dedup.simhashSignatures(batch, idCol, textCol), nBuckets, maxHamming,
      beforePublish)

  /** [[neardupIngestManifested]] for PRE-COMPUTED signature batches —
    * the entry point for signature sources other than word tokens (e.g.
    * [[graft.multimodal.Media.byteGramSimhash]]'s byte-gram signatures
    * over binary payloads): the index probe, star-edge survivor lookup,
    * component merge, and store are all signature-source agnostic,
    * exactly like [[Dedup.simhashPairsFromSigs]]. `batchSigs` must be
    * shaped (id, sh_lo, sh_hi). */
  def neardupIngestSigsManifested(spark: SparkSession, target: String,
                                  batchSigs: DataFrame, nBuckets: Int,
                                  maxHamming: Int = 3,
                                  beforePublish: () => Unit = () => ())
      : MergeSink.MergeStats =
    neardupIngestCore(spark, manifestedStore(spark, target, nBuckets,
      beforePublish), batchSigs, maxHamming)

  /** [[neardupIngestSigsManifested]] against a BUCKETED catalog-table
    * index — the 100 TB compat layout, [[dedupIngestBucketed]]'s
    * argument applied to the signature store: with the index
    * `bucketBy(doc_id)`, the re-delivery anti-join, the star-edge
    * survivor lookup, and the merge itself all read the (corpus-sized)
    * index side pre-partitioned with NO exchange; only batch-derived
    * frames shuffle. The signature cross-probe is orthogonal to the
    * layout either way — it joins on exploded simhash chunks, bounded by
    * [[Dedup.simhashCrossPairs]]'s bucket cap, not by the index's key
    * partitioning. Single-writer per pipeline (a rename-swap publish). */
  def neardupIngestSigsBucketed(spark: SparkSession, table: String,
                                batchSigs: DataFrame, nBuckets: Int,
                                maxHamming: Int = 3): MergeSink.MergeStats =
    neardupIngestCore(spark, new IndexStore {
      def exists: Boolean = spark.catalog.tableExists(table)
      def read(): DataFrame = spark.table(table)
      def merge(updates: DataFrame, fields: Seq[String]): MergeSink.MergeStats =
        // derive output is key-unique by construction (anti-joined
        // inserts ∪ remapped index rows) — skip the fold window
        MergeSink.mergeIntoBucketed(spark, table, updates, "doc_id", fields,
          nBuckets, updatesUnique = true)
    }, batchSigs, maxHamming)

  /** The manifested [[IndexStore]]: publish through
    * [[graft.sinks.ManifestMergeSink.mergeIntoManifested]] with the
    * WHOLE derivation inside the CAS retry seam (`recomputeUpdates`,
    * re-run per attempt against the pinned snapshot) and
    * `conflictRepoint = false` — the near-dup/entity cross probes read
    * EVERY bucket's content, so a winner in a disjoint bucket still
    * changes the derivation's input and a metadata-only repoint would
    * publish a stale clustering. */
  private def manifestedStore(spark: SparkSession, target: String,
                              nBuckets: Int,
                              beforePublish: () => Unit): IndexStore =
    new IndexStore {
      import graft.sinks.ManifestMergeSink
      def exists: Boolean =
        ManifestMergeSink.headState(spark, target).isDefined
      def read(): DataFrame = ManifestMergeSink.readManifested(spark, target)
      def merge(updates: DataFrame,
                fields: Seq[String]): MergeSink.MergeStats =
        // derive output is key-unique by construction (anti-joined
        // inserts ∪ remapped index rows) — skip the fold window
        ManifestMergeSink.mergeIntoManifested(spark, target, updates,
          "doc_id", fields, nBuckets, updatesUnique = true)
      override def mergeDerived(derive: Option[DataFrame] => DataFrame,
                                fields: Seq[String])
          : Option[MergeSink.MergeStats] = Some(
        ManifestMergeSink.mergeIntoManifested(spark, target,
          spark.emptyDataFrame /* unused: recomputeUpdates drives */,
          "doc_id", fields, nBuckets,
          beforePublish = beforePublish,
          conflictRepoint = false,
          updatesUnique = true,
          recomputeUpdates = {
            case None => derive(None)
            case Some(st) => derive(Some(ManifestMergeSink
              .readStateBuckets(spark, target, st,
                st.mapping.keys.toSeq.sorted)
              // one materialization per attempt: the derivation
              // references the index four times
              .localCheckpoint(true)))
          }))
    }

  /** SCOPE-SHARDED near-dup ingest against the manifested index — the
    * 100 TB form of [[neardupIngestManifested]]. The index stores
    * (doc_id, scope, sh_lo, sh_hi, survivor_id) and every pair join
    * keys on (scope, chunk, cval): near-dup clustering runs WITHIN each
    * scope (lang/source/crawl — the partitions a curation pipeline
    * already treats as independent populations), pairs never cross
    * scopes, and the 16-bit pigeonhole collision term — measured
    * superlinear (~n^1.4) on an unsharded corpus past ~10⁶ docs
    * (SCALE.md 30× curve) — becomes a function of SCOPE size, not
    * corpus size. A corpus that grows by adding scopes ingests at flat
    * per-day cost; ScaleCurveJob's `neardup_scoped` family measures the
    * slope. `maxBucketSize` optionally stacks the hot-bucket governor
    * on top for boilerplate-degenerate scopes
    * ([[Dedup.simhashCrossPairs]]). Gate: q229 (row-exact per-scope
    * clustering vs the DuckDB oracle, day-split + re-delivery). */
  def neardupIngestScopedManifested(spark: SparkSession, target: String,
                                    batch: DataFrame, idCol: String,
                                    textCol: String, scopeCol: String,
                                    nBuckets: Int, maxHamming: Int = 3,
                                    maxBucketSize: Option[Int] = None,
                                    beforePublish: () => Unit = () => ())
      : MergeSink.MergeStats =
    neardupIngestCore(spark, manifestedStore(spark, target, nBuckets,
      beforePublish),
      Dedup.simhashSignatures(batch, idCol, textCol, carry = Seq(scopeCol)),
      maxHamming, scopeCols = Seq(scopeCol), maxBucketSize = maxBucketSize)

  /** The two physical index layouts [[neardupIngestCore]] runs
    * against: a bucketed catalog table ([[neardupIngestSigsBucketed]])
    * or the manifested commit-log snapshot ([[neardupIngestManifested]],
    * via [[mergeDerived]]'s CAS seam). */
  private trait IndexStore {
    def exists: Boolean
    def read(): DataFrame
    def merge(updates: DataFrame, fields: Seq[String]): MergeSink.MergeStats
    /** CAS-SEAM merge for stores whose publish retries under contention
      * (the manifested layout): run the WHOLE subgraph derivation inside
      * the merge's retry loop, re-invoked per publish attempt against
      * exactly the snapshot the attempt CAS-checks — a losing writer
      * re-derives from the winner's head, so the induction converges to
      * sequential semantics under any interleave (q209's discipline,
      * gated for near-dup by q236). None (the default) = the bucketed
      * swap layout, single-writer per pipeline by contract: the core
      * derives once against [[read]] and publishes through [[merge]]. */
    def mergeDerived(derive: Option[DataFrame] => DataFrame,
                     fields: Seq[String]): Option[MergeSink.MergeStats] = None
  }

  /** `scopeCols`: SCOPE columns carried by `batchSigs0` and stored in
    * the index — the probe joins on (scope..., chunk, cval) and pairs
    * never cross scopes ([[Dedup.simhashCrossPairs]]'s `extraKeys`),
    * so a corpus growing by adding scopes keeps per-day cost flat
    * (the measured ~n^1.4 chunk-collision term becomes per-scope,
    * SCALE.md). `maxBucketSize`: the hot-bucket governor, an explicit
    * recall-trading escape hatch — with it set, the induction invariant
    * weakens from "equals batch clustering" to "equals batch clustering
    * of the governed pair set" (q230 certifies governed recall against
    * the exact anchor); None (the default, every exact gate) keeps the
    * invariant exact. */
  private def neardupIngestCore(spark: SparkSession, store: IndexStore,
                                batchSigs0: DataFrame,
                                maxHamming: Int,
                                scopeCols: Seq[String] = Nil,
                                maxBucketSize: Option[Int] = None)
      : MergeSink.MergeStats = {
    val fields = scopeCols ++ Seq("sh_lo", "sh_hi", "survivor_id")

    val batchSigs = batchSigs0
      .dropDuplicates("id") // within-batch re-delivery of identical rows

    // The TOUCHED-SUBGRAPH derivation as a pure function of the index
    // snapshot. The swap layout calls it ONCE against [[IndexStore.read]]
    // (single-writer-per-pipeline by contract); the manifested layout
    // runs it INSIDE the merge's CAS retry seam via
    // [[IndexStore.mergeDerived]] — re-derived per publish attempt
    // against exactly the state the attempt CAS-checks (the q209
    // discipline), so a losing writer re-probes against the winner's
    // head and the induction invariant (final index = batch clustering)
    // holds under any two-writer interleave (gate: q236).
    def derive(indexOpt: Option[DataFrame]): DataFrame = {
    // localCheckpoint: referenced by the self-pair emitter, the cross
    // probe, AND the final insert set — without it the tokenize+simhash
    // pipeline re-runs per reference (union-branch trap)
    val newSigs = (indexOpt match {
      case Some(index) =>
        batchSigs.join(index.select(col("doc_id").as("id")),
          Seq("id"), "left_anti")
      case None => batchSigs
    }).localCheckpoint(true)

    val edges: DataFrame = {
      val selfPairs = Dedup.simhashCrossPairs(newSigs, newSigs, maxHamming,
          maxBucketSize, scopeCols)
        .filter(col("id1") < col("id2"))
      indexOpt match {
        case None => selfPairs.select(col("id1"), col("id2"))
        case Some(index) =>
          val indexSigs = index.select(col("doc_id").as("id") +:
            scopeCols.map(col) :+ col("sh_lo") :+ col("sh_hi"): _*)
          val crossPairs = Dedup.simhashCrossPairs(newSigs, indexSigs,
              maxHamming, maxBucketSize, scopeCols)
            .select(col("id1"), col("id2"))
            .localCheckpoint(true) // referenced twice: edge union + star lookup
          // star edges: each probed old doc brings its cluster's survivor
          // (= the cluster's min id) into the touched subgraph. No
          // distinct on the probe side: duplicate (doc, survivor) edges
          // are collapsed by clusterComponents' initial edge distinct —
          // one fewer exchange per derivation (guide §2.4)
          val starEdges = crossPairs.select(col("id2").as("doc_id"))
            .join(index.select(col("doc_id"), col("survivor_id")), Seq("doc_id"))
            .select(col("doc_id").as("id1"), col("survivor_id").as("id2"))
          selfPairs.select(col("id1"), col("id2"))
            .union(crossPairs).union(starEdges)
      }
    }
    val comp = Dedup.clusterComponents(edges) // (id, comp)

    val inserts = newSigs
      .join(comp, newSigs("id") === comp("id"), "left")
      .select(newSigs("id").as("doc_id") +: scopeCols.map(newSigs(_)) :+
        col("sh_lo") :+ col("sh_hi") :+
        coalesce(col("comp"), newSigs("id")).as("survivor_id"): _*)
    indexOpt match {
      case None => inserts
      case Some(index) =>
        // old survivors undercut this round: every index row pointing at
        // them re-points to the merged component's min (broadcast map —
        // bounded by this batch's cluster-merge events)
        val survivorMap = comp
          .join(index.select(col("survivor_id").as("id")).distinct(), Seq("id"))
          .filter(col("comp") < col("id"))
          .select(col("id").as("old_surv"), col("comp").as("new_surv"))
        val remapped = index
          .join(broadcast(survivorMap), index("survivor_id") === col("old_surv"))
          .select(col("doc_id") +: scopeCols.map(col) :+
            col("sh_lo") :+ col("sh_hi") :+
            col("new_surv").as("survivor_id"): _*)
        inserts.unionByName(remapped)
    }
    } // derive

    store.mergeDerived(derive, fields).getOrElse {
      // the bucketed swap layout: no checkpoint of the index — it would
      // discard the scan's bucketed output partitioning, so the
      // doc_id-keyed anti-join and star lookup would exchange the
      // corpus-sized index (PlanAuditSpec pins that plan); its four
      // re-reads are co-located scans, the cheaper trade
      store.merge(derive(if (store.exists) Some(store.read()) else None),
        fields)
    }
  }

  /** q68 gate: the q65 day-split + re-delivery harness applied to
    * [[neardupIngestManifested]]; the final index's (doc_id,
    * survivor_id) must equal batch near-dup clustering of the WHOLE corpus row-for-row —
    * the oracle recomputes the q21/q52 shared pair CTEs and closes them
    * transitively, with unclustered docs surviving as themselves. */
  def q68IncrNeardup(spark: SparkSession, dir: String): DataFrame = {
    // routed through the MANIFESTED index (q65's precedent): the gate
    // exercises the rename-free commit-log layout the 100 TB
    // deployment runs by default; the bucketed-catalog compat form
    // stays gated through q103's media-sig family
    import graft.sinks.ManifestMergeSink
    val base = java.nio.file.Files.createTempDirectory("graft_q68_")
    try {
      val target = s"$base/neardup_index"
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      // day 2 re-delivers every 5th document — the anti-join protection,
      // q65's harness verbatim
      Seq(
        docs.filter(col("doc_id") <= cut),
        docs.filter(col("doc_id") > cut)
          .union(docs.filter(col("doc_id") % 5 === 0)))
        .foreach(day =>
          neardupIngestManifested(spark, target, day, "doc_id", "text",
            nBuckets = 16))
      ManifestMergeSink.readManifested(spark, target)
        .select(col("doc_id"), col("survivor_id"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // materialize before the snapshot dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q68IncrNeardupSql: String =
    s"""WITH ${TextQueries.simhashPairsCtes()},
       |${OracleSql.closureCtes("pairs")}
       |SELECT s.id AS doc_id, coalesce(c.comp, s.id)::BIGINT AS survivor_id
       |FROM sp_sig s LEFT JOIN clus c ON c.id = s.id
       |ORDER BY doc_id""".stripMargin

  /** q229 gate: [[neardupIngestScopedManifested]] under the q65/q68
    * day-split + re-delivery harness, scoped by `lang` — the final
    * index must equal WITHIN-SCOPE batch near-dup clustering of the
    * whole corpus row-for-row (the oracle restricts candidate pairs to
    * equal langs and closes them transitively; cross-lang simhash
    * collisions must NOT merge clusters). This is the 100 TB ingest
    * shape: the pigeonhole chunk join keys on (lang, chunk, cval), so
    * the collision term that grows with corpus size on an unsharded
    * index grows only with scope size here (SCALE.md `neardup_scoped`
    * curve). */
  def q229ScopedNeardup(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.ManifestMergeSink
    val base = java.nio.file.Files.createTempDirectory("graft_q229_")
    try {
      val target = s"$base/scoped_index"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      Seq(
        docs.filter(col("doc_id") <= cut),
        docs.filter(col("doc_id") > cut)
          .union(docs.filter(col("doc_id") % 5 === 0)))
        .foreach(day =>
          neardupIngestScopedManifested(spark, target, day, "doc_id",
            "text", "lang", nBuckets = 16))
      ManifestMergeSink.readManifested(spark, target)
        .select(col("doc_id"), col("lang"), col("survivor_id"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // materialize before the snapshot dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q229ScopedNeardupSql: String =
    s"""WITH ${TextQueries.simhashPairsCtes(scopeCol = Some("lang"))},
       |${OracleSql.closureCtes("pairs")}
       |SELECT s.id AS doc_id, s.scope AS lang,
       |  coalesce(c.comp, s.id)::BIGINT AS survivor_id
       |FROM sp_sig s LEFT JOIN clus c ON c.id = s.id
       |ORDER BY doc_id""".stripMargin

  /** SCOPE HEALTH for a scoped near-dup index
    * ([[neardupIngestScopedManifested]]) — the advisory that closes the
    * last hand-knob the scaling curves left: per-scope docs and
    * clusters read from the INDEX snapshot (signature rows — corpus
    * metadata, never document text), with `over_envelope` flagging
    * scopes past the measured collision envelope (SCALE.md pins the
    * 16-bit chunk space's superlinear regime above ~10⁶ docs/scope; a
    * flagged scope is due for a finer sharding key — lang → lang ×
    * source → lang × source × crawl — or the q230 governor). The
    * maintain-night companion of [[graft.sinks.ManifestMergeSink
    * .bucketHealth]]: one reads the layout, this reads the population.
    * Gate: q235. */
  def scopeHealth(index: DataFrame, scopeCol: String,
                  maxDocsPerScope: Long,
                  govQuantile: Double = CapQuantile): DataFrame = {
    require(maxDocsPerScope >= 1L, s"maxDocsPerScope=$maxDocsPerScope")
    // governor-erosion tripwire under the scope-fitted cap
    // ([[Dedup.scopeGovernorCaps]]): a nonzero docs_all_chunks_hot means
    // the cap would zero those docs' recall — reshard the scope first
    val erosion = Dedup.governorErosion(
      index.select(col("doc_id").as("id"), col(scopeCol),
        col("sh_lo"), col("sh_hi")),
      Seq(scopeCol), govQuantile)
    index.groupBy(col(scopeCol))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("survivor_id")).as("n_clusters"),
        (count(lit(1)) > maxDocsPerScope).as("over_envelope"))
      .join(erosion, Seq(scopeCol))
      .orderBy(col(scopeCol))
  }

  /** q235 gate: [[scopeHealth]] over a lang-scoped index built from the
    * whole corpus — per-scope doc and CLUSTER counts must match the
    * oracle's scope-restricted closure (a wrong survivor anywhere moves
    * a cluster count), the envelope flag must fire on exactly the
    * scopes over the threshold (non-vacuous: the fixture's `en` scope
    * crosses it, the others don't), and the report now carries the
    * GOVERNOR-EROSION tripwire under the scope-fitted cap
    * ([[Dedup.governorErosion]]): derived cap, hot-bucket count, and
    * the all-chunks-hot doc count whose nonzero value means the cap
    * would zero those docs' recall — all recomputed by the oracle. */
  def q235ScopeHealth(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.ManifestMergeSink
    val base = java.nio.file.Files.createTempDirectory("graft_q235_")
    try {
      val target = s"$base/scoped_index"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      neardupIngestScopedManifested(spark, target, docs, "doc_id",
        "text", "lang", nBuckets = 16)
      scopeHealth(ManifestMergeSink.readManifested(spark, target),
          "lang", maxDocsPerScope = 100L)
        .localCheckpoint(true) // materialize before the snapshot dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q235ScopeHealthSql: String =
    s"""WITH ${TextQueries.simhashPairsCtes(scopeCol = Some("lang"))},
       |${OracleSql.closureCtes("pairs")},
       |surv AS (SELECT s.id, s.scope, coalesce(c.comp, s.id) AS sv
       |         FROM sp_sig s LEFT JOIN clus c ON c.id = s.id),
       |ibsz AS (SELECT scope, chunk, cval, count(*) AS bsz
       |         FROM sp_chunks GROUP BY 1, 2, 3),
       |caps AS (SELECT scope, bsz AS cap FROM (
       |    SELECT scope, bsz, row_number() OVER (PARTITION BY scope ORDER BY bsz) AS rn,
       |           count(*) OVER (PARTITION BY scope) AS nb FROM ibsz)
       |  WHERE rn = CEIL(${CapQuantile} * nb)),
       |ero AS (SELECT b.scope, max(c.cap)::BIGINT AS gov_cap,
       |          sum(CASE WHEN b.bsz > c.cap THEN 1 ELSE 0 END)::BIGINT AS hot_buckets
       |        FROM ibsz b JOIN caps c ON b.scope = c.scope GROUP BY 1),
       |hotd AS (SELECT scope,
       |           sum(CASE WHEN nhot = 4 THEN 1 ELSE 0 END)::BIGINT AS docs_all_chunks_hot
       |         FROM (SELECT s.scope, s.id,
       |                 sum(CASE WHEN b.bsz > c.cap THEN 1 ELSE 0 END) AS nhot
       |               FROM sp_chunks s
       |               JOIN ibsz b ON s.scope = b.scope AND s.chunk = b.chunk
       |                 AND s.cval = b.cval
       |               JOIN caps c ON s.scope = c.scope
       |               GROUP BY 1, 2)
       |         GROUP BY 1)
       |SELECT h.scope AS lang, h.n_docs, h.n_clusters, h.over_envelope,
       |  e.gov_cap, e.hot_buckets, d.docs_all_chunks_hot
       |FROM (SELECT scope, count(*)::BIGINT AS n_docs,
       |        count(DISTINCT sv)::BIGINT AS n_clusters,
       |        (count(*) > 100) AS over_envelope
       |      FROM surv GROUP BY 1) h
       |JOIN ero e ON e.scope = h.scope
       |JOIN hotd d ON d.scope = h.scope
       |ORDER BY lang""".stripMargin

  /** The q230 governor cap. The fixture's cross-probe bucket sizes are
    * long-tailed (measured at sf0.01: 409 singleton index buckets, a
    * handful at 3-28, and two degenerate ~70-doc buckets — the planted
    * boilerplate neighborhoods that collapse whole chunk values); 32
    * cuts exactly that tail. The cap must actually engage
    * (n_governed < n_exact — a vacuous gate otherwise: measured
    * 489/525) while recall stays above the floor (0.93 measured vs the
    * 0.5 floor, >1.8× margin) — both checked exactly against the
    * oracle's recomputation of BOTH pair sets. */
  private[operators] val GovCap = 32
  private[operators] val GovMinRecall = 0.5

  /** q230 gate: the GOVERNED cross-probe's recall, certified exactly.
    * The corpus splits into a probe half (odd doc_id) and an index half
    * (even) — [[Dedup.simhashCrossPairs]] runs once exact and once with
    * `maxBucketSize = GovCap`, and the oracle recomputes BOTH counts in
    * DuckDB (the governor is deterministic: per-(chunk, cval) bucket
    * counts per side, hot buckets dropped before the candidate join).
    * `subset_ok` proves governed ⊆ exact in-engine (anti-join, zero
    * escapees); `recall_ok` pins governed/exact ≥ `GovMinRecall`. The
    * same cap plumbs into ingest via
    * [[neardupIngestScopedManifested]]'s `maxBucketSize` — this gate is
    * the recall certificate the escape hatch ships with.
    *
    * The cap is an ABSOLUTE fan-out bound, so its recall is
    * corpus-relative: a corpus whose duplicate families grow with its
    * size (this fixture: measured 93% at sf0.01, ~4% at sf0.1 under
    * the same cap) degrades under a fixed cap by design — the bound is
    * the point. Deployment order is therefore scope sharding FIRST
    * (q229 — collision populations stay scope-sized), governor second
    * (per-scope skew), with the cap sized to the scope's expected
    * bucket population, re-certified at that scale the way this gate
    * does at its own. */
  def q230GovernedNeardup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text")
      .localCheckpoint(true) // probe + index + two probes each reference it
    val probe = sigs.filter(col("id") % 2 === 1)
    val index = sigs.filter(col("id") % 2 === 0)
    val exact = Dedup.simhashCrossPairs(probe, index, maxHamming = 3)
      .localCheckpoint(true)
    val governed = Dedup.simhashCrossPairs(probe, index, maxHamming = 3,
        maxBucketSize = Some(GovCap))
      .localCheckpoint(true)
    val nExact = exact.count()
    val nGov = governed.count()
    val escapees = governed.join(exact, Seq("id1", "id2"), "left_anti").count()
    import spark.implicits._
    Seq((nExact, nGov, escapees == 0L,
        nGov >= math.ceil(GovMinRecall * nExact).toLong))
      .toDF("n_exact", "n_governed", "subset_ok", "recall_ok")
  }

  val q230GovernedNeardupSql: String =
    s"""WITH ${TextQueries.simhashPairsCtes()},
       |pchunks AS (SELECT * FROM sp_chunks WHERE id % 2 = 1),
       |ichunks AS (SELECT * FROM sp_chunks WHERE id % 2 = 0),
       |xpairs AS (SELECT DISTINCT a.id AS id1, b.id AS id2
       |           FROM pchunks a JOIN ichunks b
       |             ON a.chunk = b.chunk AND a.cval = b.cval
       |           WHERE (bit_count(xor(a.sh_lo, b.sh_lo))
       |                + bit_count(xor(a.sh_hi, b.sh_hi))) <= 3),
       |pcap AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY chunk, cval) AS bsz
       |                        FROM pchunks) WHERE bsz <= ${GovCap}),
       |icap AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY chunk, cval) AS bsz
       |                        FROM ichunks) WHERE bsz <= ${GovCap}),
       |gpairs AS (SELECT DISTINCT a.id AS id1, b.id AS id2
       |           FROM pcap a JOIN icap b
       |             ON a.chunk = b.chunk AND a.cval = b.cval
       |           WHERE (bit_count(xor(a.sh_lo, b.sh_lo))
       |                + bit_count(xor(a.sh_hi, b.sh_hi))) <= 3)
       |SELECT (SELECT count(*) FROM xpairs)::BIGINT AS n_exact,
       |       (SELECT count(*) FROM gpairs)::BIGINT AS n_governed,
       |       TRUE AS subset_ok, TRUE AS recall_ok""".stripMargin

  /** q239: the PER-SCOPE DERIVED-CAP recall certificate — q230's
    * certificate re-run with [[Dedup.scopeGovernorCaps]]'s fitted cap
    * on every lang scope at once (the fixture's scopes span ~30 to
    * ~110 index docs, so the certificate covers differently-sized
    * scopes by construction — the r17 verdict's item 3). The corpus
    * splits probe (odd doc_id) / index (even); each scope's cap is the
    * [[CapQuantile]] discrete quantile of the INDEX side's own
    * (chunk, cval) bucket sizes; the cross-probe runs once exact and
    * once under the per-scope caps. Per scope the oracle recomputes the
    * cap AND both pair counts; `subset_ok` proves governed ⊆ exact
    * in-engine (anti-join over all scopes, zero escapees); `recall_ok`
    * pins governed ≥ ceil([[CapMinRecall]] · exact) per scope — the
    * recall floor, certified against caps the data itself sized. */
  def q239GovernorCapCert(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"))
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text",
        carry = Seq("lang"))
      .localCheckpoint(true) // probe/index splits + scope lookup share it
    val probe = sigs.filter(col("id") % 2 === 1)
    val index = sigs.filter(col("id") % 2 === 0)
    val caps = Dedup.scopeGovernorCaps(index, Seq("lang"), CapQuantile)
      .localCheckpoint(true) // joined into both probe sides + the report
    val exact = Dedup.simhashCrossPairs(probe, index, maxHamming = 3,
        extraKeys = Seq("lang"))
      .localCheckpoint(true)
    val governed = Dedup.simhashCrossPairs(probe, index, maxHamming = 3,
        extraKeys = Seq("lang"), scopeCaps = Some(caps))
      .localCheckpoint(true)
    val escapees = governed.join(exact, Seq("id1", "id2"), "left_anti").count()
    // pairs never cross scopes, so id1 (the probe doc) names the scope
    val lang1 = sigs.select(col("id").as("id1"), col("lang"))
    def perScope(p: DataFrame, as: String) = p.join(lang1, Seq("id1"))
      .groupBy(col("lang")).agg(count(lit(1)).as(as))
    caps
      .join(perScope(exact, "n_exact"), Seq("lang"), "left")
      .join(perScope(governed, "n_governed"), Seq("lang"), "left")
      .select(col("lang"), col("cap").cast("long").as("gov_cap"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_governed"), lit(0L)).as("n_governed"),
        lit(escapees == 0L).as("subset_ok"),
        (coalesce(col("n_governed"), lit(0L)) >=
          ceil(lit(CapMinRecall) * coalesce(col("n_exact"), lit(0L))))
          .as("recall_ok"))
      .orderBy(col("lang"))
  }

  val q239GovernorCapCertSql: String =
    s"""WITH ${TextQueries.simhashPairsCtes(scopeCol = Some("lang"))},
       |pchunks AS (SELECT * FROM sp_chunks WHERE id % 2 = 1),
       |ichunks AS (SELECT * FROM sp_chunks WHERE id % 2 = 0),
       |ibsz AS (SELECT scope, chunk, cval, count(*) AS bsz
       |         FROM ichunks GROUP BY 1, 2, 3),
       |caps AS (SELECT scope, bsz AS cap FROM (
       |    SELECT scope, bsz, row_number() OVER (PARTITION BY scope ORDER BY bsz) AS rn,
       |           count(*) OVER (PARTITION BY scope) AS nb FROM ibsz)
       |  WHERE rn = CEIL(${CapQuantile} * nb)),
       |xpairs AS (SELECT DISTINCT a.scope, a.id AS id1, b.id AS id2
       |           FROM pchunks a JOIN ichunks b
       |             ON a.chunk = b.chunk AND a.cval = b.cval
       |             AND a.scope = b.scope
       |           WHERE (bit_count(xor(a.sh_lo, b.sh_lo))
       |                + bit_count(xor(a.sh_hi, b.sh_hi))) <= 3),
       |pcap AS (SELECT p.* FROM (
       |    SELECT *, count(*) OVER (PARTITION BY scope, chunk, cval) AS bsz
       |    FROM pchunks) p
       |  JOIN caps c ON p.scope = c.scope WHERE p.bsz <= c.cap),
       |icap AS (SELECT p.* FROM (
       |    SELECT *, count(*) OVER (PARTITION BY scope, chunk, cval) AS bsz
       |    FROM ichunks) p
       |  JOIN caps c ON p.scope = c.scope WHERE p.bsz <= c.cap),
       |gpairs AS (SELECT DISTINCT a.scope, a.id AS id1, b.id AS id2
       |           FROM pcap a JOIN icap b
       |             ON a.chunk = b.chunk AND a.cval = b.cval
       |             AND a.scope = b.scope
       |           WHERE (bit_count(xor(a.sh_lo, b.sh_lo))
       |                + bit_count(xor(a.sh_hi, b.sh_hi))) <= 3)
       |SELECT c.scope AS lang, c.cap::BIGINT AS gov_cap,
       |  (SELECT count(*) FROM xpairs x WHERE x.scope = c.scope)::BIGINT
       |    AS n_exact,
       |  (SELECT count(*) FROM gpairs g WHERE g.scope = c.scope)::BIGINT
       |    AS n_governed,
       |  TRUE AS subset_ok,
       |  ((SELECT count(*) FROM gpairs g WHERE g.scope = c.scope) >=
       |   CEIL(${CapMinRecall} *
       |        (SELECT count(*) FROM xpairs x WHERE x.scope = c.scope)))
       |    AS recall_ok
       |FROM caps c ORDER BY lang""".stripMargin

  /** q231 gate: the maintain night's BUCKET-HEALTH monitor + auto
    * rebucket ([[graft.jobs.SnapshotMaintainJob]] `--rebucket-key`).
    * A deliberately under-bucketed snapshot (2 buckets for the whole
    * corpus, the day-cost regime SCALE.md pins: every day touches
    * every bucket) must be DETECTED from the head (one footer-scale
    * count) and rebucketed to [[graft.sinks.ManifestMergeSink
    * .bucketCountFor]]'s power-of-two target in night 1; night 2 on
    * the now-healthy snapshot must publish NOTHING (same head seq, no
    * rebucket); and the data must ride through both nights untouched
    * (row count + key sum vs the oracle). */
  def q231BucketHealth(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.ManifestMergeSink
    import graft.jobs.SnapshotMaintainJob
    val base = java.nio.file.Files.createTempDirectory("graft_q231_")
    try {
      val target = s"$base/snap"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      ManifestMergeSink.mergeIntoManifested(spark, target, docs,
        "doc_id", Seq("len"), 2, // deliberately under-bucketed
        updatesUnique = true) // doc_id is the documents PK
      val before = ManifestMergeSink.headState(spark, target).get._2.nBuckets
      val cfg = SnapshotMaintainJob.SnapshotConfig(
        rebucketKey = Some("doc_id"), targetRowsPerBucket = 32L)
      val s1 = SnapshotMaintainJob.run(spark, target, cfg)
      val (head1, st1) = ManifestMergeSink.headState(spark, target).get
      val health = ManifestMergeSink.bucketHealth(spark, target)
        .agg(sum(col("rows")).as("rows"), count(lit(1)).as("nb")).head()
      val s2 = SnapshotMaintainJob.run(spark, target, cfg)
      val head2 = ManifestMergeSink.headState(spark, target).get._1
      val snap = ManifestMergeSink.readManifested(spark, target)
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("ids")).head()
      val ss = spark; import ss.implicits._
      Seq((before.toLong, st1.nBuckets.toLong,
          s1.rebucketedTo.map(_.toLong).getOrElse(-1L),
          s2.rebucketedTo.isEmpty && head2 == head1,
          health.getLong(0) == snap.getLong(0) &&
            health.getLong(1) == st1.nBuckets.toLong,
          snap.getLong(0), snap.getLong(1)))
        .toDF("buckets_before", "buckets_after", "night1_rebucket",
          "night2_noop", "health_consistent", "n_rows", "sum_ids")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  // The oracle re-derives bucketCountFor (smallest power of two >=
  // ceil(rows / targetRowsPerBucket=32), grow-only from the deliberate
  // under-bucketing at 2) from count(*) itself, so resizing the fixture
  // moves the expectation instead of breaking the gate opaquely.
  val q231BucketHealthSql: String =
    """WITH agg AS (SELECT count(*)::BIGINT AS c, sum(doc_id)::BIGINT AS ids,
      |                    greatest(1, (count(*) + 31) // 32) AS need
      |             FROM documents),
      |tgt AS (SELECT min(power(2, g)::BIGINT) AS want
      |        FROM generate_series(0, 30) t(g), agg
      |        WHERE power(2, g)::BIGINT >= agg.need)
      |SELECT 2::BIGINT AS buckets_before,
      |  greatest(2, tgt.want)::BIGINT AS buckets_after,
      |  (CASE WHEN tgt.want > 2 THEN tgt.want ELSE -1 END)::BIGINT
      |    AS night1_rebucket,
      |  TRUE AS night2_noop, TRUE AS health_consistent,
      |  agg.c AS n_rows, agg.ids AS sum_ids
      |FROM agg, tgt""".stripMargin

  /** INCREMENTAL ENTITY RESOLUTION against a persistent registry —
    * [[neardupIngestManifested]]'s induction applied to the fuzzy-KEY
    * family (reference mongo.py:103-163's keyed upsert, surviving dirty keys):
    * the registry stores one row per seen record, (key_id, name,
    * entity_id), where entity_id is the min key over the record's
    * ed<=1-connected NAME component so far. Each batch:
    *
    *  1. drops re-delivered key_ids (q65's anti-join protection);
    *  2. emits the TOUCHED subgraph's edges: batch-internal fuzzy pairs
    *     ([[FuzzyJoin.edOnePairs]]), batch→registry pairs
    *     ([[FuzzyJoin.edOneCrossPairs]] — deletion-variant blocking,
    *     never a scan of the registry), and one (record → its entity)
    *     star edge per probed registry row, carrying the old cluster's
    *     connectivity and min without touching unprobed rows;
    *  3. closes components over those edges only;
    *  4. merges: inserts with entity = component min; registry rows of
    *     entities undercut this round re-point via the old→new map.
    *
    * The induction invariant (and its proof) is [[neardupIngestCore]]'s
    * verbatim with "simhash pair" replaced by "ed<=1 pair": the final
    * registry equals batch clustering of ALL names ingested so far,
    * under any arrival order and any re-delivery pattern.
    *
    * Layout: the MANIFEST-POINTER registry, and the multi-writer form:
    * the whole touched-subgraph derivation runs inside the merge's CAS
    * retry seam (`recomputeUpdates`, re-derived per publish attempt
    * against the pinned snapshot, with `conflictRepoint = false` because
    * the ed<=1 cross probe reads every bucket's names), so two racing
    * registrars converge to sequential semantics under any interleave —
    * [[neardupIngestCore]]'s q236 discipline applied to the fuzzy-key
    * family. Gates: q127/q129 (the induction), q237 (contention). */
  def entityIngestManifested(spark: SparkSession, target: String,
                             batch: DataFrame, idCol: String,
                             nameCol: String, nBuckets: Int,
                             beforePublish: () => Unit = () => ())
      : MergeSink.MergeStats = {
    import graft.sinks.ManifestMergeSink
    ManifestMergeSink.mergeIntoManifested(spark, target,
      spark.emptyDataFrame /* unused: recomputeUpdates drives */,
      "key_id", Seq("name", "entity_id"), nBuckets,
      beforePublish = beforePublish,
      conflictRepoint = false,
      // derive output is key-unique (anti-joined inserts ∪ remapped
      // registry rows) — skip the fold window
      updatesUnique = true,
      recomputeUpdates = {
        case None => entityDeriveUpdates(batch, idCol, nameCol, None)
        case Some(st) => entityDeriveUpdates(batch, idCol, nameCol,
          Some(ManifestMergeSink.readStateBuckets(spark, target, st,
              st.mapping.keys.toSeq.sorted)
            .localCheckpoint(true))) // referenced four times per attempt
      })
  }

  /** The entity induction's touched-subgraph derivation as a pure
    * function of the registry snapshot, re-derived per publish attempt
    * inside the manifested CAS seam. `scopeCols`: pairs never cross
    * scopes (the q229 discipline applied to the fuzzy-key family —
    * deletion-variant buckets, and their quadratic candidate term, stay
    * scope-sized). */
  private def entityDeriveUpdates(batch: DataFrame, idCol: String,
                                  nameCol: String,
                                  indexOpt: Option[DataFrame],
                                  scopeCols: Seq[String] = Nil): DataFrame = {
    val batchRows = batch
      .select(col(idCol).as("id") +: scopeCols.map(col) :+
        col(nameCol).as("name"): _*)
      .dropDuplicates("id")
    // localCheckpoint: referenced by the self-pair emitter, the cross
    // probe, and the insert set (the neardupIngestCore discipline)
    val newRows = (indexOpt match {
      case Some(index) =>
        batchRows.join(index.select(col("key_id").as("id")),
          Seq("id"), "left_anti")
      case None => batchRows
    }).localCheckpoint(true)

    val selfPairs = FuzzyJoin.edOnePairs(newRows, "id", "name",
        scopeCols = scopeCols)
      .select(col("id_a").as("id1"), col("id_b").as("id2"))
    val edges: DataFrame = indexOpt match {
      case None => selfPairs
      case Some(idx) =>
        val crossPairs = FuzzyJoin.edOneCrossPairs(
            newRows,
            idx.select(col("key_id").as("id") +: scopeCols.map(col) :+
              col("name"): _*),
            scopeCols = scopeCols)
          .localCheckpoint(true) // edge union + star lookup both read it
        val starEdges = crossPairs.select(col("id2").as("key_id")).distinct()
          .join(idx.select(col("key_id"), col("entity_id")), Seq("key_id"))
          .select(col("key_id").as("id1"), col("entity_id").as("id2"))
        selfPairs.union(crossPairs).union(starEdges)
    }
    val comp = Dedup.clusterComponents(edges) // (id, comp)

    val inserts = newRows
      .join(comp, newRows("id") === comp("id"), "left")
      .select(newRows("id").as("key_id") +: scopeCols.map(newRows(_)) :+
        col("name") :+
        coalesce(col("comp"), newRows("id")).as("entity_id"): _*)
    indexOpt match {
      case None => inserts
      case Some(idx) =>
        val entityMap = comp
          .join(idx.select(col("entity_id").as("id")).distinct(), Seq("id"))
          .filter(col("comp") < col("id"))
          .select(col("id").as("old_ent"), col("comp").as("new_ent"))
        val remapped = idx
          .join(broadcast(entityMap), idx("entity_id") === col("old_ent"))
          .select(col("key_id") +: scopeCols.map(col) :+ col("name") :+
            col("new_ent").as("entity_id"): _*)
        inserts.unionByName(remapped)
    }
  }

  /** SCOPE-SHARDED entity ingest against the manifested registry — the
    * q229 discipline applied to the fuzzy-key family: the registry
    * stores (key_id, scope, name, entity_id), every pair join keys on
    * (scope, variant), and clustering runs WITHIN each scope, so a
    * registry growing by adding scopes (sources/regions) keeps per-day
    * cost flat and deletion-variant bucket skew scope-local. Runs
    * inside the CAS recompute seam like [[entityIngestManifested]]
    * (multi-writer convergent). Gate: q240 (row-exact per-scope
    * clustering, day-split + re-delivery). */
  def entityIngestScopedManifested(spark: SparkSession, target: String,
                                   batch: DataFrame, idCol: String,
                                   nameCol: String, scopeCol: String,
                                   nBuckets: Int,
                                   beforePublish: () => Unit = () => ())
      : MergeSink.MergeStats = {
    import graft.sinks.ManifestMergeSink
    ManifestMergeSink.mergeIntoManifested(spark, target,
      spark.emptyDataFrame /* unused: recomputeUpdates drives */,
      "key_id", Seq(scopeCol, "name", "entity_id"), nBuckets,
      beforePublish = beforePublish,
      conflictRepoint = false,
      // derive output is key-unique (anti-joined inserts ∪ remapped
      // registry rows) — skip the fold window
      updatesUnique = true,
      recomputeUpdates = {
        case None =>
          entityDeriveUpdates(batch, idCol, nameCol, None, Seq(scopeCol))
        case Some(st) => entityDeriveUpdates(batch, idCol, nameCol,
          Some(ManifestMergeSink.readStateBuckets(spark, target, st,
              st.mapping.keys.toSeq.sorted)
            .localCheckpoint(true)), Seq(scopeCol))
      })
  }

  /** q127 gate: the q65/q68 day-split + re-delivery harness applied to
    * [[entityIngestManifested]] over supplier names; the final
    * registry's (key_id, name, entity_id) must equal batch ed<=1 clustering of ALL
    * supplier names row-for-row. The fixture's sequential names chain
    * into one giant component (every two keys differing in one digit
    * link directly), so the gate's stress is TRANSITIVE-CHAIN closure
    * under incremental arrival — digit-diverse multi-entity merges and
    * arrival-order independence are pinned in FuzzyJoinSpec's crafted
    * cases, where components can actually differ. */
  def q127EntityIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q127_")
    try {
      val target = s"$base/registry"
      val sup = Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))
      val cut = sup.agg(max(col("s_suppkey"))).head().getLong(0) / 2
      Seq(
        sup.filter(col("s_suppkey") <= cut),
        sup.filter(col("s_suppkey") > cut)
          .union(sup.filter(col("s_suppkey") % 5 === 0)))
        .foreach(day => entityIngestManifested(spark, target, day,
          "s_suppkey", "s_name", nBuckets = 8))
      graft.sinks.ManifestMergeSink.readManifested(spark, target)
        .select(col("key_id"), col("name"), col("entity_id"))
        .orderBy(col("key_id"))
        .localCheckpoint(true) // materialize before the scratch dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** q129: the q127 fold behind a REAL file stream
    * ([[graft.streaming.StreamingFold]] — one micro-batch per landed day
    * file), with day 2's file RE-DELIVERING a slice of day 1 (the q122
    * harness shape). Ledger-free AND order-free: the registry's
    * anti-join drops any already-seen id, so replays and re-deliveries
    * fold to no-ops, and the component-min invariant needs no
    * delivery-order guarantee (FuzzyJoinSpec proves order invisibility
    * directly). Same oracle as q127, verbatim. */
  def q129StreamEntity(spark: SparkSession, dir: String): DataFrame = 
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.StreamingFold
    val base = java.nio.file.Files.createTempDirectory("graft_q129_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val registry = s"$base/registry"
      val sup = Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("id"), col("s_name").as("name"))
      val cut = sup.agg(max(col("id"))).head().getLong(0) / 2
      val days = Seq(
        sup.filter(col("id") <= cut),
        sup.filter(col("id") > cut)
          .unionByName(sup.filter(col("id") % 5 === 0)))
      days.zipWithIndex.foreach { case (d, i) =>
        StreamingFold.land(d, srcDir, s"day_$i.parquet")
      }
      val recordSchema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType)))
      StreamingFold.drain(StreamingFold.files(spark, recordSchema, srcDir),
          s"$base/ckpt", "stream_entity") { (batch, _) =>
        val st = entityIngestManifested(spark, registry, batch, "id", "name",
          nBuckets = 8)
        Seq("matched" -> st.nMatched, "upserted" -> st.nUpserted)
      }
      graft.sinks.ManifestMergeSink.readManifested(spark, registry)
        .select(col("key_id"), col("name"), col("entity_id"))
        .orderBy(col("key_id"))
        .localCheckpoint(true) // materialize before the scratch dir dies
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  /** The streamed fold's oracle IS q127's. */
  def q129StreamEntitySql: String = q127EntityIngestSql

  val q127EntityIngestSql: String =
    s"""WITH p AS MATERIALIZED (
      |  SELECT a.s_suppkey AS id1, b.s_suppkey AS id2
      |  FROM supplier a, supplier b
      |  WHERE a.s_suppkey < b.s_suppkey
      |    AND levenshtein(a.s_name, b.s_name) <= 1),
      |${OracleSql.closureCtes("p")}
      |SELECT s.s_suppkey AS key_id, s.s_name AS name,
      |  coalesce(c.comp, s.s_suppkey)::BIGINT AS entity_id
      |FROM supplier s LEFT JOIN clus c ON c.id = s.s_suppkey
      |ORDER BY key_id""".stripMargin

  /** q80: small-file COMPACTION of an ingest-fragmented snapshot
    * ([[graft.sinks.Compaction.compactPartitioned]]). The gate builds
    * the pathology the operator exists for — 8 arrival batches appended
    * to a 4-bucket partitioned layout leave 8 files per `pb=` directory
    * (the q65/q73 nightly-ingest residue) — compacts to 1 file per
    * directory, and emits the snapshot ROW-LEVEL from the REOPENED
    * compacted layout: any row lost, duplicated, or corrupted by the
    * rewrite/swap fails the hash against the oracle's straight fixture
    * scan. The pass's file accounting (8→1 per dir, skip-idempotence,
    * untouched-dir byte-identity) is pinned in CompactionSpec. */
  def q80Compaction(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Compaction
    val nBuckets = 4
    val base = java.nio.file.Files.createTempDirectory("graft_q80_")
    val path = s"$base/snapshot"
    try {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("content_hash"))
        .withColumn("pb", pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)))
        .localCheckpoint(true) // 8 batch writes below re-read this frame
      for (b <- 0L until 8L)
        docs.filter(pmod(col("doc_id"), lit(8L)) === b)
          .write.mode("append").partitionBy("pb").parquet(path)
      val stats = Compaction.compactPartitioned(spark, path, targetBytes = 64L << 20)
      require(stats.nCompacted == nBuckets && stats.filesAfter == nBuckets,
        s"compaction did not converge: $stats")
      Parquets.read(spark, path)
        .select(col("doc_id"), col("lang"), col("content_hash"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // materialize before the scratch dir is deleted
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q80CompactionSql: String =
    """SELECT doc_id, lang, md5(text) AS content_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Snapshot DIFF — the dataset-versioning primitive: given two corpus
    * versions keyed by id, emit every added, removed, or changed
    * document (unchanged rows — the overwhelming bulk — are filtered
    * out, so the result carries drift volume only). This is how a
    * 100 TB corpus release is audited before training: which documents
    * did tonight's crawl+curation run actually touch, per language.
    *
    * Scale design: one full-outer join on the key comparing content
    * hashes — the same single co-partitioned shuffle as the merge sink,
    * and like it exchange-free when both snapshots live bucketed on the
    * key ([[graft.sinks.MergeSink.mergeIntoBucketed]]'s layout
    * argument). Content comparison is by md5, not payload equality, so
    * the join carries 16-byte hashes, never document bodies. */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, key: String,
                   hashCol: String, carry: Seq[String]): DataFrame = {
    val l = v1.select(col(key) +: (hashCol +: carry).map(c => col(c).as(s"l_$c")): _*)
    val r = v2.select(col(key) +: (hashCol +: carry).map(c => col(c).as(s"r_$c")): _*)
    l.join(r, Seq(key), "full_outer")
      .withColumn("status",
        when(col(s"l_$hashCol").isNull, lit("added"))
          .when(col(s"r_$hashCol").isNull, lit("removed"))
          .when(col(s"l_$hashCol") =!= col(s"r_$hashCol"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col(key) +: col("status") +:
        carry.map(c => coalesce(col(s"r_$c"), col(s"l_$c")).as(c)): _*)
  }

  /** q82: snapshot diff over a deterministically-derived v2 of the
    * documents fixture — `doc_id % 17 = 3` removed, `% 13 = 2` edited
    * (suffix appended), and a shifted-id copy of `% 19 = 7` added
    * (the q74 plant-your-own-fixture pattern, mirrored in the oracle).
    * Row-level exact over the (id, status, lang) drift set. */
  def q82SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
    val base = Tables.documents(spark, dir)
    val v2 = base.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), col("lang"),
        md5(when(col("doc_id") % 13 === 2, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("h"))
      .union(base.filter(col("doc_id") % 19 === 7)
        .select(col("doc_id") + 1000000L, col("lang"), md5(col("text"))))
    snapshotDiff(v1, v2, "doc_id", "h", Seq("lang"))
      .orderBy(col("doc_id"))
  }

  val q82SnapshotDiffSql: String =
    """WITH v1 AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
      |v2 AS (
      |  SELECT doc_id, lang,
      |    md5(CASE WHEN doc_id % 13 = 2 THEN text || ' v2' ELSE text END) AS h
      |  FROM documents WHERE doc_id % 17 != 3
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, md5(text) FROM documents WHERE doc_id % 19 = 7)
      |SELECT coalesce(v2.doc_id, v1.doc_id) AS doc_id,
      |  CASE WHEN v1.h IS NULL THEN 'added'
      |       WHEN v2.h IS NULL THEN 'removed'
      |       WHEN v1.h != v2.h THEN 'changed' END AS status,
      |  coalesce(v2.lang, v1.lang) AS lang
      |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      |WHERE (CASE WHEN v1.h IS NULL THEN 'added'
      |            WHEN v2.h IS NULL THEN 'removed'
      |            WHEN v1.h != v2.h THEN 'changed' END) IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  /** One step of the CHANGE FEED: the keyed diff of two consecutive
    * catalog versions, KEEPING the new-side values ([[snapshotDiff]]
    * drops them — an audit wants volume, a REPLAY wants the data).
    * Removed rows carry their old values for the consumer's audit; the
    * replay ignores them. One full-outer co-partitioned shuffle on the
    * key, null-safe struct comparison over the value columns. */
  private def changeStep(prev: DataFrame, cur: DataFrame, key: String,
                         valCols: Seq[String]): DataFrame = {
    val l = prev.select(col(key), struct(valCols.map(col): _*).as("l_v"))
    val r = cur.select(col(key), struct(valCols.map(col): _*).as("r_v"))
    l.join(r, Seq(key), "full_outer")
      .withColumn("status",
        when(col("l_v").isNull, lit("added"))
          .when(col("r_v").isNull, lit("removed"))
          .when(!(col("l_v") <=> col("r_v")), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col(key) +: col("status") +:
        valCols.map(c => coalesce(col(s"r_v.$c"), col(s"l_v.$c")).as(c)): _*)
  }

  /** CHANGE FEED over the version catalog — what an INCREMENTAL
    * consumer (a trainer resuming from a cursor, a downstream index)
    * replays instead of re-reading the whole head snapshot: for every
    * version v > `afterVersion`, the keyed add/remove/change delta
    * v-1 → v, tagged with `version` so the consumer applies steps in
    * order and advances its cursor to the max it has seen (the Delta
    * CDF / Iceberg incremental-read analog over the engine's own
    * catalog). Each step is one co-partitioned diff join; the feed's
    * size is the DRIFT between versions, never the corpus — the whole
    * point at 100 TB. A step whose base version was vacuumed fails
    * loudly in [[graft.sinks.VersionCatalog.readVersion]] (retention
    * must outlive the slowest consumer's cursor — the same contract
    * Delta documents for CDF). */
  def catalogChanges(spark: SparkSession, path: String, afterVersion: Long,
                     key: String, valCols: Seq[String]): DataFrame = {
    import graft.sinks.VersionCatalog
    val vs = VersionCatalog.versions(spark, path).filter(_ > afterVersion).sorted
    require(vs.nonEmpty,
      s"no versions after $afterVersion at $path — cursor already at head")
    vs.map { v =>
        changeStep(VersionCatalog.readVersion(spark, path, v - 1),
            VersionCatalog.readVersion(spark, path, v), key, valCols)
          .withColumn("version", lit(v))
      }
      .reduce(_ unionByName _)
  }

  /** Apply a [[catalogChanges]] feed to a base snapshot: per key, the
    * LAST step wins (one rank window over the feed — the feed is
    * drift-sized, so the window is cheap), removed keys drop, everything
    * untouched carries from the base via one anti join. Replaying
    * base = v_cursor against the feed reconstructs the head version
    * EXACTLY — gated row-level in q171. */
  def applyChangeFeed(base: DataFrame, feed: DataFrame, key: String,
                      valCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val last = feed
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(key)).orderBy(col("version").desc)))
      .filter(col("rn") === 1)
    val untouched = base.join(last.select(col(key)), Seq(key), "left_anti")
    untouched.select(col(key) +: valCols.map(col): _*)
      .unionByName(last.filter(col("status") =!= "removed")
        .select(col(key) +: valCols.map(col): _*))
  }

  /** q171: CHANGE-FEED CONSUMPTION through the catalog — q166 committed
    * versions and diffed endpoints; this gate closes the INCREMENTAL
    * consumer loop: the same three deterministic versions commit, a
    * consumer whose cursor sits at v1 reads [[catalogChanges]] (step
    * v1→v2 = the every-7th removals, step v2→v3 = the every-5th edits
    * plus shifted-id additions), and [[applyChangeFeed]] replays the
    * feed onto its stale v1 copy — which must reconstruct v3 ROW-FOR-ROW
    * (the oracle states the replay as v3 directly, so any lost delta,
    * phantom change, or mis-ordered application fails the hash). Both
    * sections ride one schema: ('feed', version, doc_id, status, lang,
    * c) ∪ ('replay', null, doc_id, null, lang, c). */
  def q171ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionCatalog
    val base = java.nio.file.Files.createTempDirectory("graft_q171_")
    val fs = new org.apache.hadoop.fs.Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val cat = s"$base/catalog"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .localCheckpoint(true) // feeds all three version frames
      VersionCatalog.commit(spark, cat,
        docs.select(col("doc_id"), col("lang"), col("n_chars").as("c")))
      VersionCatalog.commit(spark, cat,
        docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("lang"), col("n_chars").as("c")))
      VersionCatalog.commit(spark, cat,
        docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") +
              when(col("doc_id") % 5 === 0, 1L).otherwise(0L)).as("c"))
          .unionByName(docs.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
              col("n_chars").as("c"))))
      val feed = catalogChanges(spark, cat, afterVersion = 1L,
          "doc_id", Seq("lang", "c"))
        .localCheckpoint(true) // feeds the gate section AND the replay
      val replayed = applyChangeFeed(
        VersionCatalog.readVersion(spark, cat, 1L), feed,
        "doc_id", Seq("lang", "c"))
      feed.select(lit("feed").as("sect"), col("version"), col("doc_id"),
          col("status"), col("lang"), col("c"))
        .unionByName(replayed.select(lit("replay").as("sect"),
          lit(null).cast("long").as("version"), col("doc_id"),
          lit(null).cast("string").as("status"), col("lang"), col("c")))
        .orderBy(col("sect"), col("version"), col("doc_id"))
        .localCheckpoint(true) // materialize before the catalog dir dies
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q171ChangeFeedSql: String =
    """WITH v1 AS (SELECT doc_id, lang, n_chars AS c FROM documents),
      |v2 AS (SELECT doc_id, lang, n_chars AS c FROM documents WHERE doc_id % 7 != 0),
      |v3 AS (
      |  SELECT doc_id, lang,
      |    n_chars + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS c
      |  FROM documents WHERE doc_id % 7 != 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, n_chars FROM documents WHERE doc_id % 11 = 0),
      |s2 AS (SELECT coalesce(v2.doc_id, v1.doc_id) AS doc_id,
      |         CASE WHEN v1.c IS NULL THEN 'added'
      |              WHEN v2.c IS NULL THEN 'removed'
      |              WHEN v1.c != v2.c OR v1.lang != v2.lang THEN 'changed' END AS status,
      |         coalesce(v2.lang, v1.lang) AS lang, coalesce(v2.c, v1.c) AS c
      |       FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id),
      |s3 AS (SELECT coalesce(v3.doc_id, v2.doc_id) AS doc_id,
      |         CASE WHEN v2.c IS NULL THEN 'added'
      |              WHEN v3.c IS NULL THEN 'removed'
      |              WHEN v2.c != v3.c OR v2.lang != v3.lang THEN 'changed' END AS status,
      |         coalesce(v3.lang, v2.lang) AS lang, coalesce(v3.c, v2.c) AS c
      |       FROM v2 FULL OUTER JOIN v3 ON v2.doc_id = v3.doc_id)
      |SELECT * FROM (
      |  SELECT 'feed' AS sect, 2::BIGINT AS version, doc_id, status, lang, c
      |  FROM s2 WHERE status IS NOT NULL
      |  UNION ALL
      |  SELECT 'feed', 3::BIGINT, doc_id, status, lang, c
      |  FROM s3 WHERE status IS NOT NULL
      |  UNION ALL
      |  SELECT 'replay', NULL::BIGINT, doc_id, NULL::VARCHAR, lang, c FROM v3)
      |ORDER BY sect, version, doc_id""".stripMargin

  /** CURSOR-TRACKED FEED CONSUMER — one advance of a derived snapshot
    * toward the catalog head: bootstrap from version 1 on first contact
    * (the CDC snapshot-then-tail convention), otherwise replay
    * [[catalogChanges]] past the stored cursor onto the stored snapshot,
    * and commit (snapshot', cursor') ATOMICALLY with the batch ledger
    * ([[graft.sinks.LedgeredState]] — a cursor that outruns its snapshot,
    * or vice versa, is exactly the torn state the ledgered swap
    * exists to prevent). Returns false when there is nothing to do:
    * head ≤ cursor, or this head's batch already in the ledger (a
    * replayed notification). Idempotent under at-least-once, unordered
    * delivery — the CATALOG is the authority for what is pending, the
    * notification only wakes the consumer. */
  def feedConsumerIngest(spark: SparkSession, catalogPath: String,
                         statePath: String, key: String,
                         valCols: Seq[String]): Boolean = {
    import graft.sinks.{LedgeredState, VersionCatalog}
    val latest = VersionCatalog.latest(spark, catalogPath).getOrElse(return false)
    val batchId = s"v$latest"
    if (LedgeredState.absorbed(spark, statePath, batchId)) return false
    val cursor = LedgeredState.readPart(spark, statePath, "cursor")
      .map(_.head().getLong(0)).getOrElse(0L)
    if (latest <= cursor) return false
    val bootstrap = cursor == 0L
    val base =
      if (bootstrap) VersionCatalog.readVersion(spark, catalogPath, 1L)
      else LedgeredState.readPart(spark, statePath, "snapshot").getOrElse(
        throw new IllegalStateException(
          s"cursor $cursor committed without a snapshot part at $statePath"))
    val fromV = if (bootstrap) 1L else cursor
    val snap =
      if (latest > fromV)
        applyChangeFeed(base,
          catalogChanges(spark, catalogPath, fromV, key, valCols), key, valCols)
      else base
    val ss = spark; import ss.implicits._
    LedgeredState.commit(spark, statePath, batchId, Seq(
      "snapshot" -> snap.select(col(key) +: valCols.map(col): _*)
        .localCheckpoint(true), // materialized BEFORE the swap moves its inputs
      "cursor" -> Seq(latest).toDF("cursor")))
    true
  }

  /** q172: the change-feed consumer STREAMED — the catalog family's
    * taxonomy closes (q166 batch lifecycle → q171 incremental replay →
    * this): three versions commit with a NOTIFICATION marker landed per
    * commit (the object-store event-notification shape),
    * [[graft.streaming.StreamingFold]] drives [[feedConsumerIngest]]
    * one marker per micro-batch (bootstrap from v1, then drift-sized
    * feed replays to v2, v3), and the final derived snapshot must equal
    * v3 ROW-FOR-ROW with the cursor at 3 — same oracle shape as q171's
    * replay section. A fourth, REPLAYED marker is landed for the head
    * version to exercise the at-least-once path in-gate (its batch must
    * no-op via the state ledger, not double-apply).
    *
    * Markers are at-least-once and unordered, so the consumer keys on
    * the CATALOG's latest version, never the marker's payload: a stale
    * or replayed marker finds latest ≤ cursor (or its batch already in
    * the state ledger) and no-ops, and a marker that arrives ahead of a
    * lost sibling still advances the cursor through every pending
    * version, because the feed reads ALL steps past the cursor. */
  def q172StreamFeed(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.sinks.{LedgeredState, VersionCatalog}
    import graft.streaming.StreamingFold
    val base = java.nio.file.Files.createTempDirectory("graft_q172_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val cat = s"$base/catalog"
      val notify = s"$base/notify"
      val statePath = s"$base/derived"
      val ss = spark; import ss.implicits._
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .localCheckpoint(true) // feeds all three version frames
      def land(v: Long, tag: String): Unit =
        StreamingFold.land(Seq(v).toDF("version"), notify, s"commit_$tag.parquet")
      VersionCatalog.commit(spark, cat,
        docs.select(col("doc_id"), col("lang"), col("n_chars").as("c")))
      land(1L, "v1")
      VersionCatalog.commit(spark, cat,
        docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("lang"), col("n_chars").as("c")))
      land(2L, "v2")
      VersionCatalog.commit(spark, cat,
        docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") +
              when(col("doc_id") % 5 === 0, 1L).otherwise(0L)).as("c"))
          .unionByName(docs.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
              col("n_chars").as("c"))))
      land(3L, "v3")
      land(3L, "v3_replayed") // at-least-once: must no-op via the ledger
      StreamingFold.drain(StreamingFold.files(spark,
          StructType(Seq(StructField("version", LongType))), notify),
          s"$base/ckpt", "stream_feed") { (batch, _) =>
        // the marker's content is only a wake-up; the catalog is the
        // authority for what is pending
        batch.count()
        val advanced = feedConsumerIngest(spark, cat, statePath, "doc_id",
          Seq("lang", "c"))
        Seq("advanced" -> (if (advanced) 1L else 0L))
      }
      val snap = LedgeredState.readPart(spark, statePath, "snapshot").get
      val cursor = LedgeredState.readPart(spark, statePath, "cursor")
        .get.head().getLong(0)
      snap.select(lit("snapshot").as("sect"), col("doc_id"),
          col("lang"), col("c"))
        .unionByName(Seq(("cursor", cursor, null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]))
          .toDF("sect", "doc_id", "lang", "c"))
        .orderBy(col("sect"), col("doc_id"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  val q172StreamFeedSql: String =
    """WITH v3 AS (
      |  SELECT doc_id, lang,
      |    n_chars + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS c
      |  FROM documents WHERE doc_id % 7 != 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, n_chars FROM documents WHERE doc_id % 11 = 0)
      |SELECT * FROM (
      |  SELECT 'snapshot' AS sect, doc_id, lang, c FROM v3
      |  UNION ALL
      |  SELECT 'cursor', 3::BIGINT, NULL::VARCHAR, NULL::BIGINT)
      |ORDER BY sect, doc_id""".stripMargin

  /** q166: SNAPSHOT VERSION CATALOG — commit / time-travel / diff /
    * vacuum through [[graft.sinks.VersionCatalog]], the release-
    * management layer q82's diff was missing (q82 only works if the
    * caller manually kept both directories; the catalog names versions
    * and keeps them until retention says otherwise). The gate runs the
    * full lifecycle: three deterministic versions commit (v1 = the
    * corpus, v2 = every-7th removed, v3 = v2 with every-5th's size
    * bumped plus shifted-id additions — the q82 plant-your-own-fixture
    * pattern); v2 TIME-TRAVELS back row-equal to what was committed;
    * v1→v3 diffs THROUGH the catalog (the q82 full-outer classification
    * re-rooted on catalog reads); vacuum(retain 2) drops exactly v1.
    * Sections share one schema: (sect, doc_id, status, lang, c), with
    * the post-vacuum version list as `versions` rows — deterministic
    * integers end to end, so the oracle states them as VALUES.
    * Crash-window behavior (manifest swap recovery, orphan sweep,
    * vacuumed-read refusal) is pinned in VersionCatalogSpec. */
  def q166VersionCatalog(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionCatalog
    val base = java.nio.file.Files.createTempDirectory("graft_q166_")
    val fs = new org.apache.hadoop.fs.Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val cat = s"$base/catalog"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .localCheckpoint(true) // feeds all three version frames
      VersionCatalog.commit(spark, cat,
        docs.select(col("doc_id"), col("lang"), col("n_chars").as("c")))
      VersionCatalog.commit(spark, cat,
        docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("lang"), col("n_chars").as("c")))
      VersionCatalog.commit(spark, cat,
        docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") +
              when(col("doc_id") % 5 === 0, 1L).otherwise(0L)).as("c"))
          .unionByName(docs.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
              col("n_chars").as("c"))))
      val nullC = lit(null).cast("long").as("c")
      val nullStatus = lit(null).cast("string").as("status")
      // time travel + diff materialize BEFORE vacuum deletes v1's dir
      val v2 = VersionCatalog.readVersion(spark, cat, 2L)
        .select(lit("v2").as("sect"), col("doc_id"), nullStatus,
          col("lang"), col("c"))
        .localCheckpoint(true)
      val diff = snapshotDiff(
          VersionCatalog.readVersion(spark, cat, 1L),
          VersionCatalog.readVersion(spark, cat, 3L),
          "doc_id", "c", Seq("lang"))
        .select(lit("diff_v1_v3").as("sect"), col("doc_id"), col("status"),
          col("lang"), nullC)
        .localCheckpoint(true)
      val dropped = VersionCatalog.vacuum(spark, cat, retainLast = 2)
      val versionRows =
        (dropped.map(_ -> "vacuumed") ++
          VersionCatalog.versions(spark, cat).map(_ -> "retained"))
      val ss = spark; import ss.implicits._
      val vrows = versionRows.toDF("doc_id", "status")
        .select(lit("versions").as("sect"), col("doc_id"), col("status"),
          lit(null).cast("string").as("lang"), nullC)
      diff.unionByName(v2).unionByName(vrows)
        .orderBy(col("sect"), col("doc_id"))
        .localCheckpoint(true) // materialize before the catalog dir dies
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q166VersionCatalogSql: String =
    """WITH v1 AS (SELECT doc_id, lang, n_chars AS c FROM documents),
      |v2 AS (SELECT doc_id, lang, n_chars AS c FROM documents WHERE doc_id % 7 != 0),
      |v3 AS (
      |  SELECT doc_id, lang,
      |    n_chars + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS c
      |  FROM documents WHERE doc_id % 7 != 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, n_chars FROM documents WHERE doc_id % 11 = 0),
      |d AS (SELECT coalesce(v3.doc_id, v1.doc_id) AS doc_id,
      |        CASE WHEN v1.c IS NULL THEN 'added'
      |             WHEN v3.c IS NULL THEN 'removed'
      |             WHEN v1.c != v3.c THEN 'changed' END AS status,
      |        coalesce(v3.lang, v1.lang) AS lang
      |      FROM v1 FULL OUTER JOIN v3 ON v1.doc_id = v3.doc_id)
      |SELECT * FROM (
      |  SELECT 'diff_v1_v3' AS sect, doc_id, status, lang, NULL::BIGINT AS c
      |  FROM d WHERE status IS NOT NULL
      |  UNION ALL
      |  SELECT 'v2', doc_id, NULL, lang, c FROM v2
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    ('versions', 1::BIGINT, 'vacuumed', NULL::VARCHAR, NULL::BIGINT),
      |    ('versions', 2::BIGINT, 'retained', NULL::VARCHAR, NULL::BIGINT),
      |    ('versions', 3::BIGINT, 'retained', NULL::VARCHAR, NULL::BIGINT))
      |    t(sect, doc_id, status, lang, c))
      |ORDER BY sect, doc_id""".stripMargin

  /** q154: MERGE-SINK SCHEMA EVOLUTION across four physical layouts
    * — the nightly-ingest property a growing corpus eventually needs
    * (every real corpus adds a column): day 1 merges (lang, n_chars);
    * day 2's updates carry a NEW `flag` column for every third document.
    * The snapshot must evolve in place — touched rows carry the value,
    * day-1 rows read null — in the full-rewrite directory, the
    * manifested hash-bucketed snapshot (the `partitioned` row: read
    * under the schema its head commit carries —
    * [[graft.sinks.ManifestMergeSink.readManifested]] — so mixed
    * footers never need a per-file mergeSchema scan; untouched buckets
    * are NOT rewritten — pinned in ManifestMergeSinkSpec), the bucketed
    * catalog table, and the composed partitioned+bucketed table (via
    * ALTER TABLE ADD COLUMNS; the catalog schema reads null from
    * pre-evolution files). The `partitioned` row keeps its name: it
    * drove a hash-partitioned rename-swap layout until that layout was
    * retired for the manifested one (SCALE.md). The reference
    * hard-codes one fixed schema end to end (src/cli/generate_data.py:
    * 27-34, src/func/parquet.py:18-50) — Mongo would have absorbed the
    * new field silently; this gate proves the relational snapshot does
    * too, with identical rows from every layout. */
  def q154SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import graft.sinks.ManifestMergeSink
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .localCheckpoint(true) // feeds 8 merges across 4 layouts
    val day2 = docs.filter(col("doc_id") % 3 === 0)
      .withColumn("flag", col("doc_id") % 7)
    val f1 = Seq("lang", "n_chars")
    val f2 = Seq("lang", "n_chars", "flag")
    val outCols = Seq(col("doc_id"), col("lang"), col("n_chars"), col("flag"))
    val base = java.nio.file.Files.createTempDirectory("graft_q154_")
    val fs = new Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tblB = "graft_q154_bucketed"
    val tblPB = "graft_q154_pd_bucketed"
    try {
      val full = s"$base/full"
      MergeSink.mergeInto(spark, full, docs, "doc_id", f1)
      MergeSink.mergeInto(spark, full, day2, "doc_id", f2)
      val part = s"$base/part"
      ManifestMergeSink.mergeIntoManifested(spark, part, docs, "doc_id", f1, nBuckets = 8)
      ManifestMergeSink.mergeIntoManifested(spark, part, day2, "doc_id", f2, nBuckets = 8)
      MergeSink.mergeIntoBucketed(spark, tblB, docs, "doc_id", f1, nBuckets = 4)
      MergeSink.mergeIntoBucketed(spark, tblB, day2, "doc_id", f2, nBuckets = 4)
      MergeSink.mergeIntoPartitionedBucketed(spark, tblPB, docs, "doc_id", f1,
        nParts = 4, nBuckets = 2)
      MergeSink.mergeIntoPartitionedBucketed(spark, tblPB, day2, "doc_id", f2,
        nParts = 4, nBuckets = 2)
      Seq(
        "full" -> Parquets.read(spark, full),
        // mixed footers after an in-place evolution: the head commit's
        // schema is the authority (no per-footer scan, no inference
        // lottery)
        "partitioned" -> ManifestMergeSink.readManifested(spark, part),
        "bucketed" -> spark.table(tblB),
        "partitioned_bucketed" -> spark.table(tblPB))
        .map { case (name, df) => df.select(lit(name).as("layout") +: outCols: _*) }
        .reduce(_ unionByName _)
        .orderBy(col("layout"), col("doc_id"))
        .localCheckpoint(true) // materialize before tables/dirs drop
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tblB")
      spark.sql(s"DROP TABLE IF EXISTS $tblPB")
      fs.delete(new Path(base.toString), true)
    }
  }

  val q154SchemaEvolutionSql: String =
    """WITH l(layout) AS (VALUES ('bucketed'), ('full'), ('partitioned'),
      |                          ('partitioned_bucketed'))
      |SELECT l.layout, d.doc_id, d.lang, d.n_chars,
      |  (CASE WHEN d.doc_id % 3 = 0 THEN d.doc_id % 7 END)::BIGINT AS flag
      |FROM l, documents d
      |ORDER BY layout, doc_id""".stripMargin

  /** q203: OPTIMISTIC-CONCURRENCY CATALOG COMMIT — the multi-writer
    * scenario every prior sink excluded by fiat (and the reference
    * never handles either: its Mongo bulk writes are atomic per
    * statement, last-writer-wins across jobs, mongo.py:103-163). Two
    * committers interleave on one [[graft.sinks.VersionCatalog]]:
    * writer A reads the empty head; writer B commits v1 (the full
    * corpus) in between; A's CAS commit against its stale head MUST
    * fail loudly ([[graft.sinks.CommitLog.CommitConflictException]] —
    * counted in the output, expected exactly 1), and B's v1 must
    * survive untouched (no lost update). A then retries through the
    * retry loop and lands as v2; a clean CAS at the current head lands
    * v3. The gate reads every version BACK through time travel and
    * emits (rows, Σdoc_id) per version — a lost update, a phantom
    * extra version, or a commit that "won" with the wrong content all
    * fail row-level against the oracle's per-frame expectations.
    *
    * Scale: contention cost is metadata-only — the loser's retry
    * re-reads a tiny commit file and re-appends one; its data dir is
    * writer-unique and never rewritten. Nothing here is corpus². */
  def q203CasCatalog(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{CommitLog, VersionCatalog}
    val base = java.nio.file.Files.createTempDirectory("graft_q203_")
    val fs = new Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val cat = s"$base/catalog"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang")).localCheckpoint(true)
      val aFrame = docs.filter(col("doc_id") % 3 === 0)
      // writer A reads the head...
      val (headA, _) = VersionCatalog.headState(spark, cat)
      // ...writer B commits v1 in between...
      VersionCatalog.commit(spark, cat, docs)
      // ...A's stale CAS must lose, loudly and retryably
      var conflicts = 0L
      try { VersionCatalog.commitCas(spark, cat, aFrame, headA); () }
      catch { case _: CommitLog.CommitConflictException => conflicts += 1 }
      // A retries (the convenience loop re-reads the head) → v2
      VersionCatalog.commit(spark, cat, aFrame)
      // a clean CAS against the CURRENT head → v3
      val (h2, _) = VersionCatalog.headState(spark, cat)
      VersionCatalog.commitCas(spark, cat,
        docs.filter(col("doc_id") % 3 =!= 0), h2)
      // read-back: every version's rows + id checksum via time travel
      val perV = VersionCatalog.versions(spark, cat).map { v =>
        VersionCatalog.readVersion(spark, cat, v)
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
          .select(lit("version").as("sect"), lit(v).as("v"),
            col("n"), col("id_sum"))
      }.reduce(_ unionByName _)
      val ss = spark; import ss.implicits._
      perV.unionByName(
          Seq(("conflicts", Option.empty[Long], conflicts, Option.empty[Long]))
            .toDF("sect", "v", "n", "id_sum"))
        .orderBy(col("sect"), col("v"))
        .localCheckpoint(true) // materialize before the catalog dir dies
    } finally fs.delete(new Path(base.toString), true)
  }

  val q203CasCatalogSql: String =
    """SELECT * FROM (
      |  SELECT 'conflicts' AS sect, NULL::BIGINT AS v, 1::BIGINT AS n,
      |    NULL::BIGINT AS id_sum
      |  UNION ALL
      |  SELECT 'version', 1, count(*), sum(doc_id) FROM documents
      |  UNION ALL
      |  SELECT 'version', 2, count(*), sum(doc_id) FROM documents
      |  WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT 'version', 3, count(*), sum(doc_id) FROM documents
      |  WHERE doc_id % 3 != 0)
      |ORDER BY sect, v""".stripMargin

  /** The q65 ingest step (see [[dedupIngestBucketed]]) against the
    * MANIFEST-POINTER snapshot ([[graft.sinks.ManifestMergeSink]]) — the
    * default layout:
    * bounded touched-bucket IO, and publish is ONE commit-file create
    * (no renames — object-store-safe, and safe under concurrent writers
    * via the commit log's CAS). The anti-join probe prunes to the
    * batch's buckets through the snapshot mapping (a hash's bucket is
    * deterministic — re-delivered keys can only collide there; the
    * scan lists only those buckets' dirs, plan-audited).
    *
    * The anti-join runs INSIDE the merge's retry loop
    * (`recomputeUpdates`), derived against exactly the snapshot state
    * each publish attempt CAS-checks: a key delivered by both of two
    * racing writers is re-probed against the winner's head on an
    * overlap conflict and drops out of the loser's fresh set — the
    * loser can never upsert its stale row over the winner's earlier
    * arrival, so first-arrival semantics follow COMMIT order under any
    * interleave (q209 gates this end to end via `beforePublish`). */
  def dedupIngestManifested(spark: SparkSession, target: String,
                            batch: DataFrame, nBuckets: Int,
                            beforePublish: () => Unit = () => ()): MergeSink.MergeStats = {
    import graft.sinks.ManifestMergeSink
    val uniq = batch.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .localCheckpoint(true) // probed for buckets, then anti-joined
    ManifestMergeSink.mergeIntoManifested(spark, target, uniq,
      "content_hash", Seq("doc_id"), nBuckets,
      beforePublish = beforePublish,
      // uniq is groupBy(content_hash)-keyed and the recompute is an
      // anti-join of it — one row per key; skip the fold window
      updatesUnique = true,
      recomputeUpdates = {
        case None => uniq // first commit: everything is fresh
        case Some(st) =>
          val touched = graft.Sparks.distinctLongs(uniq,
            pmod(xxhash64(col("content_hash")), lit(st.nBuckets.toLong)))
          uniq.join(
            ManifestMergeSink.readStateBuckets(spark, target, st, touched)
              .select(col("content_hash")),
            Seq("content_hash"), "left_anti")
      })
  }

  /** q204: the q65 day-split + re-delivery harness through the legacy
    * BUCKETED-CATALOG layout ([[dedupIngestBucketed]]) — the
    * explicitly-chosen COMPAT gate since the commit-log migration made
    * the manifested layout the default (q65's primary gate now drives
    * [[dedupIngestManifested]]). Kept gated so the compat mode stays
    * row-for-row correct for pipelines that haven't migrated: same
    * oracle as q65/q73/q83 — the final index must equal batch dedup of
    * the whole corpus. */
  def q204IncrDedupBucketedCompat(spark: SparkSession, dir: String): DataFrame = {
    // unique catalog table per run (the bucketed layout lives in the
    // catalog, not a temp dir); dropped in the finally
    val table = "graft_q204_idx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try
      dedupDays(spark, dir)(day =>
        dedupIngestBucketed(spark, table, day, nBuckets = 8))(spark.table(table))
    finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  def q204IncrDedupBucketedCompatSql: String = q65IncrDedupSql

  /** q209: MANIFEST-MERGE WRITER CONTENTION under the gate — the
    * two-nightly-jobs scenario end to end, not just in the spec: day 1
    * seeds the snapshot; then writer A (docs with odd doc_id) has its
    * generation written and, BEFORE A publishes, writer B (even
    * doc_id) commits through the injectable seam. A's publish loses
    * the CAS and reconciles by the bucket rule (disjoint → repoint
    * metadata-only; overlapping → re-derive the fresh set against B's
    * head and re-merge — both paths converge to sequential semantics,
    * so the FINAL SNAPSHOT is interleave-invariant). The oracle is
    * plain batch dedup of the whole corpus: a lost update (B's rows
    * vanishing under A's stale-head publish), a double-fold, a stale
    * anti-join (A upserting over a key B landed first), or a
    * half-published bucket set all fail row-level. Also emits a
    * commit-count row: exactly day1 + A + B commits land — one per
    * writer, losers never double-publish. */
  def q209ManifestContention(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{CommitLog, ManifestMergeSink}
    val base = java.nio.file.Files.createTempDirectory("graft_q209_")
    try {
      val target = s"$base/dedup_index"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      dedupIngestManifested(spark, target, docs.filter(col("doc_id") <= cut),
        nBuckets = 16)
      // writer A's day-2 slice (odd ids above the cut) holds its publish
      // until writer B (even ids above the cut) has fully committed
      val dayA = docs.filter(col("doc_id") > cut && col("doc_id") % 2 === 1)
      val dayB = docs.filter(col("doc_id") > cut && col("doc_id") % 2 === 0)
      dedupIngestManifested(spark, target, dayA, nBuckets = 16,
        beforePublish = () => {
          dedupIngestManifested(spark, target, dayB, nBuckets = 16); ()
        })
      val fs = new Path(target)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nCommits = CommitLog.seqs(fs, new Path(target)).size.toLong
      val ss = spark; import ss.implicits._
      ManifestMergeSink.readManifested(spark, target)
        .select(lit("row").as("sect"), col("content_hash"),
          col("doc_id").as("survivor_id"))
        .unionByName(Seq(("commits", null.asInstanceOf[String], nCommits))
          .toDF("sect", "content_hash", "survivor_id"))
        .orderBy(col("sect"), col("content_hash"))
        .localCheckpoint(true) // materialize before the snapshot dir dies
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q209ManifestContentionSql: String =
    """SELECT * FROM (
      |  SELECT 'row' AS sect, md5(text) AS content_hash,
      |    min(doc_id)::BIGINT AS survivor_id
      |  FROM documents GROUP BY md5(text)
      |  UNION ALL
      |  SELECT 'commits', NULL, 3)
      |ORDER BY sect, content_hash""".stripMargin

  /** q236: NEAR-DUP WRITER CONTENTION — the q209 interleave applied to
    * the manifested near-dup INDUCTION, the multi-writer gap the r17
    * verdict named top item: day 1 seeds the index; writer A (odd
    * doc_ids above the cut) holds its publish while writer B (even
    * ids) commits fully; A's CAS loss re-derives the WHOLE touched
    * subgraph — anti-join, self/cross pairs, star edges, components,
    * survivor remap — against B's head (`conflictRepoint = false`: the
    * cross probe reads every bucket's signatures, so even a
    * disjoint-bucket winner changes A's input). The final index must
    * equal batch near-dup clustering of the whole corpus row-for-row
    * (q68's oracle), so a stale repoint (A publishing its pre-B
    * clustering), a lost A×B pair, or a missed survivor remap all fail
    * row-level; the commit-count row pins one commit per writer. */
  def q236NeardupContention(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{CommitLog, ManifestMergeSink}
    val base = java.nio.file.Files.createTempDirectory("graft_q236_")
    try {
      val target = s"$base/neardup_index"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      neardupIngestManifested(spark, target,
        docs.filter(col("doc_id") <= cut), "doc_id", "text", nBuckets = 16)
      val dayA = docs.filter(col("doc_id") > cut && col("doc_id") % 2 === 1)
      val dayB = docs.filter(col("doc_id") > cut && col("doc_id") % 2 === 0)
      neardupIngestManifested(spark, target, dayA, "doc_id", "text",
        nBuckets = 16,
        beforePublish = () => {
          neardupIngestManifested(spark, target, dayB, "doc_id", "text",
            nBuckets = 16); ()
        })
      val fs = new Path(target)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nCommits = CommitLog.seqs(fs, new Path(target)).size.toLong
      val ss = spark; import ss.implicits._
      ManifestMergeSink.readManifested(spark, target)
        .select(lit("row").as("sect"), col("doc_id"), col("survivor_id"))
        .unionByName(Seq(("commits", Option.empty[Long], nCommits))
          .toDF("sect", "doc_id", "survivor_id"))
        .orderBy(col("sect"), col("doc_id"))
        .localCheckpoint(true) // materialize before the snapshot dir dies
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q236NeardupContentionSql: String =
    s"""WITH ${TextQueries.simhashPairsCtes()},
       |${OracleSql.closureCtes("pairs")}
       |SELECT * FROM (
       |  SELECT 'row' AS sect, s.id AS doc_id,
       |    coalesce(c.comp, s.id)::BIGINT AS survivor_id
       |  FROM sp_sig s LEFT JOIN clus c ON c.id = s.id
       |  UNION ALL
       |  SELECT 'commits', NULL, 3)
       |ORDER BY sect, doc_id""".stripMargin

  /** q237: ENTITY-REGISTRY WRITER CONTENTION — the q236 interleave
    * applied to [[entityIngestManifested]] (the fuzzy-key induction):
    * registrar A (odd supplier keys above the cut) holds its publish
    * while registrar B (even keys) commits; A re-derives the ed<=1
    * touched subgraph against B's head and the final registry must
    * equal batch clustering of ALL supplier names (q127's oracle) plus
    * the one-commit-per-writer count. */
  def q237EntityContention(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{CommitLog, ManifestMergeSink}
    val base = java.nio.file.Files.createTempDirectory("graft_q237_")
    try {
      val target = s"$base/registry"
      val sup = Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))
      val cut = sup.agg(max(col("s_suppkey"))).head().getLong(0) / 2
      entityIngestManifested(spark, target,
        sup.filter(col("s_suppkey") <= cut), "s_suppkey", "s_name",
        nBuckets = 8)
      val dayA = sup.filter(col("s_suppkey") > cut && col("s_suppkey") % 2 === 1)
      val dayB = sup.filter(col("s_suppkey") > cut && col("s_suppkey") % 2 === 0)
      entityIngestManifested(spark, target, dayA, "s_suppkey", "s_name",
        nBuckets = 8,
        beforePublish = () => {
          entityIngestManifested(spark, target, dayB, "s_suppkey", "s_name",
            nBuckets = 8); ()
        })
      val fs = new Path(target)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nCommits = CommitLog.seqs(fs, new Path(target)).size.toLong
      val ss = spark; import ss.implicits._
      ManifestMergeSink.readManifested(spark, target)
        .select(lit("row").as("sect"), col("key_id"), col("name"),
          col("entity_id"))
        .unionByName(Seq(
            ("commits", Option.empty[Long], Option.empty[String], nCommits))
          .toDF("sect", "key_id", "name", "entity_id"))
        .orderBy(col("sect"), col("key_id"))
        .localCheckpoint(true) // materialize before the registry dir dies
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q237EntityContentionSql: String =
    s"""WITH p AS MATERIALIZED (
      |  SELECT a.s_suppkey AS id1, b.s_suppkey AS id2
      |  FROM supplier a, supplier b
      |  WHERE a.s_suppkey < b.s_suppkey
      |    AND levenshtein(a.s_name, b.s_name) <= 1),
      |${OracleSql.closureCtes("p")}
      |SELECT * FROM (
      |  SELECT 'row' AS sect, s.s_suppkey AS key_id, s.s_name AS name,
      |    coalesce(c.comp, s.s_suppkey)::BIGINT AS entity_id
      |  FROM supplier s LEFT JOIN clus c ON c.id = s.s_suppkey
      |  UNION ALL
      |  SELECT 'commits', NULL, NULL, 3)
      |ORDER BY sect, key_id""".stripMargin

  /** q240 gate: [[entityIngestScopedManifested]] under the q127
    * day-split + re-delivery harness, scoped by nation parity — the
    * final registry must equal WITHIN-SCOPE batch ed<=1 clustering of
    * all supplier names row-for-row (the oracle restricts candidate
    * pairs to equal scopes and closes them transitively; cross-scope
    * ed<=1 chains must NOT merge entities — non-vacuous because the
    * fixture's sequential names chain across parities in q127's
    * unscoped registry, so scoped and unscoped entity ids genuinely
    * differ). */
  def q240ScopedEntity(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.ManifestMergeSink
    val base = java.nio.file.Files.createTempDirectory("graft_q240_")
    try {
      val target = s"$base/registry"
      val sup = Tables.supplier(spark, dir)
        .select(col("s_suppkey"),
          (col("s_nationkey") % 2).cast("long").as("region"),
          col("s_name"))
      val cut = sup.agg(max(col("s_suppkey"))).head().getLong(0) / 2
      Seq(
        sup.filter(col("s_suppkey") <= cut),
        sup.filter(col("s_suppkey") > cut)
          .union(sup.filter(col("s_suppkey") % 5 === 0)))
        .foreach(day => entityIngestScopedManifested(spark, target, day,
          "s_suppkey", "s_name", "region", nBuckets = 8))
      ManifestMergeSink.readManifested(spark, target)
        .select(col("key_id"), col("region"), col("name"), col("entity_id"))
        .orderBy(col("key_id"))
        .localCheckpoint(true) // materialize before the registry dir dies
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q240ScopedEntitySql: String =
    s"""WITH s AS (SELECT s_suppkey, (s_nationkey % 2)::BIGINT AS region,
      |             s_name FROM supplier),
      |p AS MATERIALIZED (
      |  SELECT a.s_suppkey AS id1, b.s_suppkey AS id2
      |  FROM s a, s b
      |  WHERE a.s_suppkey < b.s_suppkey AND a.region = b.region
      |    AND levenshtein(a.s_name, b.s_name) <= 1),
      |${OracleSql.closureCtes("p")}
      |SELECT s.s_suppkey AS key_id, s.region, s.s_name AS name,
      |  coalesce(c.comp, s.s_suppkey)::BIGINT AS entity_id
      |FROM s LEFT JOIN clus c ON c.id = s.s_suppkey
      |ORDER BY key_id""".stripMargin

  /** Shared harness for the manifested version-history gates
    * (q218/q219): three committed versions of a (doc_id, len) snapshot —
    * v1 the lower doc_id half, v2 inserts the upper half and bumps every
    * 7th lower key's value by 1000, v3 purges every 11th key. Returns
    * the target path and its committed seqs (the caller's temp dir owns
    * the lifetime). */
  private def versionedSnapshot(spark: SparkSession, dir: String,
                                target: String): Seq[Long] = {
    import graft.sinks.ManifestMergeSink
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    ManifestMergeSink.mergeIntoManifested(spark, target,
      docs.filter(col("doc_id") <= cut), "doc_id", Seq("len"), nBuckets = 16,
      updatesUnique = true) // doc_id is the documents PK
    ManifestMergeSink.mergeIntoManifested(spark, target,
      docs.filter(col("doc_id") > cut)
        .unionByName(docs
          .filter(col("doc_id") <= cut && col("doc_id") % 7 === 0)
          .withColumn("len", col("len") + 1000L)),
      "doc_id", Seq("len"), nBuckets = 16,
      updatesUnique = true) // disjoint-range union: keys stay unique
    ManifestMergeSink.purgeManifested(spark, target,
      docs.filter(col("doc_id") % 11 === 0).select(col("doc_id")), "doc_id")
    ManifestMergeSink.commitSeqs(spark, target)
  }

  /** q218: CHANGE DATA FEED off the manifest snapshot — the diff a
    * downstream incremental consumer reads instead of re-scanning the
    * table ([[graft.sinks.ManifestMergeSink.changesBetween]]). v1→v2
    * must surface exactly the upper-half inserts and the every-7th
    * value updates (rewrite-identical rows in touched buckets must NOT
    * appear — the null-safe field comparison); v2→v3 exactly the purged
    * keys as deletes carrying their pre-delete values. Row-level oracle:
    * the diff is recomputed in SQL from the wave definitions. Scale: the
    * diff reads ONLY buckets whose mapping pointer changed between the
    * two commits — IO ∝ changed bytes, never table size. */
  def q218ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.ManifestMergeSink
    val base = java.nio.file.Files.createTempDirectory("graft_q218_")
    try {
      val target = s"$base/snap"
      val seqs = versionedSnapshot(spark, dir, target)
      val d12 = ManifestMergeSink.changesBetween(spark, target,
        seqs(0), seqs(1), "doc_id", Seq("len"))
        .withColumn("sect", lit("v1_v2"))
      val d23 = ManifestMergeSink.changesBetween(spark, target,
        seqs(1), seqs(2), "doc_id", Seq("len"))
        .withColumn("sect", lit("v2_v3"))
      d12.unionByName(d23)
        .select(col("sect"), col("doc_id"), col("len"), col("_change"))
        .orderBy(col("sect"), col("doc_id"))
        .localCheckpoint(true) // materialize before the snapshot dir dies
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q218ChangeFeedSql: String =
    """WITH d AS (SELECT doc_id, length(text)::BIGINT AS len FROM documents),
      |c AS (SELECT max(doc_id) // 2 AS cut FROM documents)
      |SELECT * FROM (
      |  SELECT 'v1_v2' AS sect, doc_id, len, 'insert' AS _change
      |  FROM d, c WHERE doc_id > cut
      |  UNION ALL
      |  SELECT 'v1_v2', doc_id, len + 1000, 'update'
      |  FROM d, c WHERE doc_id <= cut AND doc_id % 7 = 0
      |  UNION ALL
      |  SELECT 'v2_v3', doc_id,
      |    CASE WHEN doc_id <= cut AND doc_id % 7 = 0 THEN len + 1000
      |         ELSE len END,
      |    'delete'
      |  FROM d, c WHERE doc_id % 11 = 0)
      |ORDER BY sect, doc_id""".stripMargin

  /** q219: TIME TRAVEL over the manifest snapshot — every retained
    * version read back as of its commit
    * ([[graft.sinks.ManifestMergeSink.readManifestedAt]]), each
    * checksummed (count + value sum + id sum), proving immutable
    * generations + the retained commit files reconstruct EXACTLY the
    * bytes each head published: the v1 read is unaffected by the later
    * update wave, the v2 read still holds the purged keys. The
    * VersionCatalog gate (q203) proves this for full-snapshot commits;
    * this one proves it for INCREMENTAL bucket generations, where a
    * version's dirs are shared with its neighbors. */
  def q219TimeTravelMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.ManifestMergeSink
    val base = java.nio.file.Files.createTempDirectory("graft_q219_")
    try {
      val target = s"$base/snap"
      val seqs = versionedSnapshot(spark, dir, target)
      seqs.zipWithIndex.map { case (s, i) =>
        ManifestMergeSink.readManifestedAt(spark, target, s)
          .agg(count(lit(1)).as("n"), sum(col("len")).as("len_sum"),
            sum(col("doc_id")).as("id_sum"))
          .select(lit(i + 1L).as("v"), col("n"), col("len_sum"),
            col("id_sum"))
      }.reduce(_ unionByName _)
        .orderBy(col("v"))
        .localCheckpoint(true) // materialize before the snapshot dir dies
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q219TimeTravelMergeSql: String =
    """WITH d AS (SELECT doc_id, length(text)::BIGINT AS len FROM documents),
      |c AS (SELECT max(doc_id) // 2 AS cut FROM documents),
      |v2 AS (SELECT doc_id,
      |         CASE WHEN doc_id <= cut AND doc_id % 7 = 0 THEN len + 1000
      |              ELSE len END AS len
      |       FROM d, c)
      |SELECT * FROM (
      |  SELECT 1::BIGINT AS v, count(*) AS n, sum(len)::BIGINT AS len_sum,
      |    sum(doc_id)::BIGINT AS id_sum
      |  FROM d, c WHERE doc_id <= cut
      |  UNION ALL
      |  SELECT 2, count(*), sum(len)::BIGINT, sum(doc_id)::BIGINT FROM v2
      |  UNION ALL
      |  SELECT 3, count(*), sum(len)::BIGINT, sum(doc_id)::BIGINT FROM v2
      |  WHERE doc_id % 11 != 0)
      |ORDER BY v""".stripMargin

  /** q220: EXACTLY-ONCE STREAMING MERGE — the doc_id-parity halves land
    * as files, a REAL stream ([[graft.streaming.StreamingFold]], one
    * micro-batch per file) merges each micro-batch under its
    * (pipeline, batchId) txn token, then BOTH batches are replayed
    * through the same token path (the restart scenario foreachBatch's
    * at-least-once contract allows) and must be byte-level no-ops: zero
    * merge stats, zero new commits. The token rides the commit file
    * with the bucket mapping, so a replay finds its mark at the head
    * without writing a byte, and a replayed instance RACING the original
    * loses the commit CAS, finds its own token at the new head, and
    * no-ops the same way. The oracle is the full corpus merged once,
    * plus a commit-count row — a double-applied batch fails row-level
    * (duplicate updatedAt bumps don't surface, but a re-upsert after a
    * purge would; the commit count pins the rest). */
  def q220ExactlyOnceMerge(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
      import graft.sinks.{CommitLog, ManifestMergeSink}
      import graft.streaming.StreamingFold
      val base = java.nio.file.Files.createTempDirectory("graft_q220_")
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(base.toString).getFileSystem(conf)
      try {
        val srcDir = s"$base/arrivals"
        val target = s"$base/snap"
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), length(col("text")).cast("long").as("len"))
        val halves = Seq(docs.filter(col("doc_id") % 2 === 0L),
          docs.filter(col("doc_id") % 2 =!= 0L))
        halves.zipWithIndex.foreach { case (d, i) =>
          StreamingFold.land(d, srcDir, s"half_$i.parquet")
        }
        StreamingFold.drain(StreamingFold.files(spark, docs.schema, srcDir),
            s"$base/ckpt", "stream_merge") { (batch, batchId) =>
          val st = ManifestMergeSink.mergeIntoManifested(spark, target,
            batch, "doc_id", Seq("len"), 16, txn = Some(("p1", batchId)))
          Seq("matched" -> st.nMatched, "upserted" -> st.nUpserted)
        }
        val committed = CommitLog.seqs(fs, new Path(target)).size
        // the restart replay: both batch tokens re-applied directly —
        // each must no-op without writing a byte or a commit
        Seq(0L, 1L).foreach { bid =>
          val st = ManifestMergeSink.mergeIntoManifested(spark, target,
            halves(bid.toInt), "doc_id", Seq("len"), nBuckets = 16,
            txn = Some(("p1", bid)), updatesUnique = true)
          require(st.nMatched == 0L && st.nUpserted == 0L,
            s"replayed batch $bid must be a txn no-op, got $st")
        }
        val after = CommitLog.seqs(fs, new Path(target)).size
        require(after == committed,
          s"replays must not commit: $committed -> $after")
        val ss = spark; import ss.implicits._
        ManifestMergeSink.readManifested(spark, target)
          .select(lit("row").as("sect"), col("doc_id"), col("len"))
          .unionByName(
            Seq(("commits", Option.empty[Long], after.toLong))
              .toDF("sect", "doc_id", "len"))
          .orderBy(col("sect"), col("doc_id"))
          .localCheckpoint(true) // materialize before the snapshot dies
      } finally fs.delete(new Path(base.toString), true)
    }

  val q220ExactlyOnceMergeSql: String =
    """SELECT * FROM (
      |  SELECT 'row' AS sect, doc_id, length(text)::BIGINT AS len
      |  FROM documents
      |  UNION ALL
      |  SELECT 'commits', NULL, 2)
      |ORDER BY sect, doc_id""".stripMargin

  /** q221: SMALL-FILE COMPACTION on the manifest merge layout — every
    * merge writes its touched buckets from a key-partitioned shuffle
    * (up to one file per write task per bucket: at cluster scale,
    * tasks × buckets small files), and
    * [[graft.sinks.ManifestMergeSink.compactManifested]] is the
    * maintenance pass that collapses them. The gate drives the full
    * lifecycle: two corpus-wide merges accrete multi-file buckets; a
    * full compaction must leave every bucket single-file with the total
    * file count strictly fallen and row contents EXACT (full-outer
    * compare); a later single-key merge re-fragments ONE bucket and the
    * next compaction must touch ONLY it — every other bucket's dir
    * byte-identical; a third pass must be a zero-stat no-op with NO new
    * commit. Oracle: row count + TRUE flags (the q213 pattern). */
  def q221CompactMergeLayout(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{CommitLog, ManifestMergeSink}
    val base = java.nio.file.Files.createTempDirectory("graft_q221_")
    val root = new Path(base.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val target = s"$base/snap"
      val tgt = new Path(target)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      // AQE partition coalescing OFF for the fragmenting merges: at
      // fixture scale it would collapse every bucket write to one task
      // (one file), hiding the exact condition a real cluster's
      // tasks × buckets fan-out produces and this pass repairs
      def fragmented[T](body: => T): T = graft.Sparks.withConf(spark,
        "spark.sql.adaptive.coalescePartitions.enabled", "false")(body)
      // distributeByBucket=false: the merge path now hash-distributes by
      // bucket before the write (one file per bucket), so the gate must
      // opt OUT to reproduce the tasks×buckets fan-out a legacy writer
      // (or any non-distributing tool) leaves behind — the layout this
      // compaction pass exists to repair
      fragmented {
        ManifestMergeSink.mergeIntoManifested(spark, target, docs,
          "doc_id", Seq("len"), nBuckets = 8, distributeByBucket = false,
          updatesUnique = true) // doc_id is the documents PK
        ManifestMergeSink.mergeIntoManifested(spark, target,
          docs.filter(col("doc_id") % 3 === 0)
            .withColumn("len", col("len") + 7L),
          "doc_id", Seq("len"), nBuckets = 8, distributeByBucket = false,
          updatesUnique = true)
      }
      def filesOf(d: String): Seq[(String, Long)] =
        fs.listStatus(new Path(tgt, d))
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => (f.getPath.getName, f.getLen)).toSeq.sortBy(_._1)
      val s1 = ManifestMergeSink.compactManifested(spark, target,
        maxFilesPerBucket = 1)
      val map1 = ManifestMergeSink.headState(spark, target).get._2.mapping
      val compact1Ok = s1.nCompacted > 0 && s1.filesAfter < s1.filesBefore &&
        map1.values.forall(d => filesOf(d).size <= 1)
      // a single-key content-no-op re-delivery fragments exactly one
      // bucket (the bucket rewrite is physical either way)
      val k0 = docs.filter(col("doc_id") % 3 === 0)
        .agg(min(col("doc_id"))).head().getLong(0)
      val k0len = docs.filter(col("doc_id") === k0).select("len")
        .head().getLong(0) + 7L
      val ss = spark; import ss.implicits._
      fragmented {
        ManifestMergeSink.mergeIntoManifested(spark, target,
          Seq((k0, k0len)).toDF("doc_id", "len"),
          "doc_id", Seq("len"), nBuckets = 8, distributeByBucket = false,
          updatesUnique = true)
      }
      val b0 = Seq(k0).toDF("doc_id")
        .select(pmod(xxhash64(col("doc_id")), lit(8L))).head().getLong(0)
      val othersBefore = map1.filterNot(_._1 == b0)
        .map { case (b, d) => b -> (d, filesOf(d)) }
      val s2 = ManifestMergeSink.compactManifested(spark, target,
        maxFilesPerBucket = 1)
      val map2 = ManifestMergeSink.headState(spark, target).get._2.mapping
      val compact2Targeted = s2.nCompacted == 1 &&
        othersBefore.forall { case (b, (d, fls)) =>
          map2.get(b).contains(d) && filesOf(d) == fls
        }
      val commitsBefore = CommitLog.seqs(fs, tgt).size
      val s3 = ManifestMergeSink.compactManifested(spark, target,
        maxFilesPerBucket = 1)
      val noopOk = s3.nCompacted == 0 &&
        CommitLog.seqs(fs, tgt).size == commitsBefore
      val expected = docs.withColumn("len",
          when(col("doc_id") % 3 === 0, col("len") + 7L)
            .otherwise(col("len")))
        .select(col("doc_id").as("e_id"), col("len").as("e_len"))
      val got = ManifestMergeSink.readManifested(spark, target)
      got.join(expected, got("doc_id") === col("e_id"), "full_outer")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(got("doc_id").isNull || col("e_id").isNull ||
            got("len") =!= col("e_len"), 1).otherwise(0)).as("n_bad"))
        .select(col("n_rows"), (col("n_bad") === 0).as("contents_match"),
          lit(compact1Ok).as("compact1_ok"),
          lit(compact2Targeted).as("compact2_targeted"),
          lit(noopOk).as("noop_ok"))
        .localCheckpoint(true) // materialize before the snapshot dies
    } finally fs.delete(root, true)
  }

  val q221CompactMergeLayoutSql: String =
    """SELECT count(*)::BIGINT AS n_rows, TRUE AS contents_match,
      |  TRUE AS compact1_ok, TRUE AS compact2_targeted, TRUE AS noop_ok
      |FROM documents""".stripMargin

  /** Whether `got` and `want` hold the same multiset of (`key`,
    * `value`) rows, in ONE action: both sides tagged +1 / −1, unioned,
    * and summed per distinct (key, value) row (grouping compares nulls
    * as equal) — any non-zero sum is a row one side holds more often.
    * A full-outer join on the key cannot see a duplicated key: every
    * copy matches the same counterpart and no row mismatches. */
  private[graft] def sameRows(got: DataFrame, want: DataFrame, key: String,
                              value: String): Boolean = {
    def side(df: DataFrame, sign: Long) =
      df.select(col(key), col(value), lit(sign).as("__side"))
    graft.Sparks.isEmpty(side(got, 1L).unionByName(side(want, -1L))
      .groupBy(col(key), col(value)).agg(sum(col("__side")).as("__d"))
      .filter(col("__d") =!= 0L))
  }

  /** q222: CDC-APPLY — the change feed must be SUFFICIENT to maintain a
    * downstream replica, not merely descriptive. A second manifested
    * table bootstraps from the source's v1 snapshot, then advances
    * commit by commit through [[graft.streaming.StreamingCdcApply
    * .applyTo]] — the SAME fenced one-commit building block the
    * streaming consumer runs: each span's deletes, upserts, and
    * watermark land atomically (no purge-then-merge crash window), a
    * replayed span is absorbed on the metadata read alone, and a
    * duplicate instance's stale span is fenced. After EVERY applied
    * version the replica must equal the source's as-of read
    * row-for-row; the gate emits the final replica, a versions-synced
    * count, AND the replica's commit count — which pins exactly one
    * commit per span (bootstrap + 2 spans = 3) and that the replay of
    * the final span committed NOTHING (a two-commit composition, or a
    * replay that re-applied, lands at 4+). Scale: the replica's write
    * cost per version ∝ the feed's rows (changed buckets only) — the
    * incremental-view-maintenance argument. */
  def q222CdcApply(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{CommitLog, ManifestMergeSink}
    import graft.streaming.StreamingCdcApply
    val base = java.nio.file.Files.createTempDirectory("graft_q222_")
    try {
      val src = s"$base/src"
      val rep = s"$base/replica"
      val pid = "q222"
      val seqs = versionedSnapshot(spark, dir, src)
      var synced = 0L
      seqs.foreach { to =>
        StreamingCdcApply.applyTo(spark, src, rep, "doc_id", Seq("len"),
          nBuckets = 16, pipelineId = pid, toSeq = to)
        if (sameRows(ManifestMergeSink.readManifested(spark, rep),
            ManifestMergeSink.readManifestedAt(spark, src, to), "doc_id", "len"))
          synced += 1L
      }
      // crash-replay the final span: the watermark absorbs it — zero
      // reads, zero commits (the commit count below proves it)
      StreamingCdcApply.applyTo(spark, src, rep, "doc_id", Seq("len"),
        nBuckets = 16, pipelineId = pid, toSeq = seqs.last)
      val fs = new Path(rep)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nCommits = CommitLog.seqs(fs, new Path(rep)).size.toLong
      val ss = spark; import ss.implicits._
      ManifestMergeSink.readManifested(spark, rep)
        .select(lit("row").as("sect"), col("doc_id"), col("len"))
        .unionByName(
          Seq(("versions_synced", Option.empty[Long], synced),
              ("replica_commits", Option.empty[Long], nCommits))
            .toDF("sect", "doc_id", "len"))
        .orderBy(col("sect"), col("doc_id"))
        .localCheckpoint(true) // materialize before the snapshot dirs die
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q222CdcApplySql: String =
    """WITH d AS (SELECT doc_id, length(text)::BIGINT AS len FROM documents),
      |c AS (SELECT max(doc_id) // 2 AS cut FROM documents)
      |SELECT * FROM (
      |  SELECT 'row' AS sect, doc_id,
      |    CASE WHEN doc_id <= cut AND doc_id % 7 = 0 THEN len + 1000
      |         ELSE len END AS len
      |  FROM d, c WHERE doc_id % 11 != 0
      |  UNION ALL
      |  SELECT 'replica_commits', NULL, 3
      |  UNION ALL
      |  SELECT 'versions_synced', NULL, 3)
      |ORDER BY sect, doc_id""".stripMargin

  /** q223: MULTI-TABLE ATOMIC PUBLISH — a data table (`index`: doc_id →
    * len) and its derived aggregate (`stats`: doc_id%10 → row count)
    * advance together through [[graft.sinks.TableGroup]]: each
    * transaction runs its child merges first (durable in the tables'
    * own commit logs, INVISIBLE to group readers), then flips both pins
    * in one root CAS. The torn-read window the reference's job leaves
    * open (data written, metadata not yet — job.py:20-94) is probed
    * through the publish seam: between transaction 2's child commits
    * and its root publish, a reader resolving the root must still see
    * transaction 1's CONSISTENT pair (index count == stats sum — the
    * invariant a torn read breaks). Oracle: final rows of both tables
    * + the torn-check flag + the root commit count. */
  def q223TableGroup(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{CommitLog, ManifestMergeSink, TableGroup}
    val base = java.nio.file.Files.createTempDirectory("graft_q223_")
    try {
      val root = s"$base/group"
      val idxPath = TableGroup.tablePath(root, "index")
      val stPath = TableGroup.tablePath(root, "stats")
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val cutN = docs.filter(col("doc_id") <= cut).count()
      def statsOf(d: DataFrame): DataFrame = d
        .groupBy((col("doc_id") % 10).as("grp"))
        .agg(count(lit(1)).as("n"))
      def childSeq(path: String): Long =
        ManifestMergeSink.headState(spark, path).get._1
      // transaction 1: lower half, both tables, one root flip
      ManifestMergeSink.mergeIntoManifested(spark, idxPath,
        docs.filter(col("doc_id") <= cut), "doc_id", Seq("len"), 16,
        updatesUnique = true)
      ManifestMergeSink.mergeIntoManifested(spark, stPath,
        statsOf(docs.filter(col("doc_id") <= cut)), "grp", Seq("n"), 4,
        updatesUnique = true)
      TableGroup.publishPins(spark, root,
        Map("index" -> childSeq(idxPath), "stats" -> childSeq(stPath)))
      // transaction 2: the rest of the corpus + refreshed stats; the
      // torn-window probe runs BETWEEN its child commits and its root
      // publish
      ManifestMergeSink.mergeIntoManifested(spark, idxPath,
        docs.filter(col("doc_id") > cut), "doc_id", Seq("len"), 16,
        updatesUnique = true)
      ManifestMergeSink.mergeIntoManifested(spark, stPath,
        statsOf(docs), "grp", Seq("n"), 4, updatesUnique = true)
      var tornOk = false
      TableGroup.publishPins(spark, root,
        Map("index" -> childSeq(idxPath), "stats" -> childSeq(stPath)),
        beforePublish = () => {
          val pins = TableGroup.headPins(spark, root).get._2
          val idxCnt = TableGroup.readPinned(spark, root, "index", pins)
            .count()
          val statsSum = TableGroup.readPinned(spark, root, "stats", pins)
            .agg(sum(col("n"))).head().getLong(0)
          tornOk = idxCnt == cutN && statsSum == cutN
        })
      // final consistent read: ONE root resolution for both tables
      val pins = TableGroup.headPins(spark, root).get._2
      val ss = spark; import ss.implicits._
      val rootCommits = CommitLog.seqs(
        new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration),
        new Path(root)).size.toLong
      TableGroup.readPinned(spark, root, "index", pins)
        .select(lit("index").as("sect"), col("doc_id").as("k"),
          col("len").as("v"))
        .unionByName(TableGroup.readPinned(spark, root, "stats", pins)
          .select(lit("stats").as("sect"), col("grp").as("k"),
            col("n").as("v")))
        .unionByName(Seq(
            ("torn_ok", Option.empty[Long], if (tornOk) 1L else 0L),
            ("root_commits", Option.empty[Long], rootCommits))
          .toDF("sect", "k", "v"))
        .orderBy(col("sect"), col("k"))
        .localCheckpoint(true) // materialize before the group dir dies
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** q228: GROUP-SCOPE CHANGE FEED — the multi-table consumer's span
    * problem solved at the root: member spans are resolved from the
    * root log's PINS ([[graft.sinks.TableGroup.changesBetween]]), so
    * diffing `index` and `stats` between the same two root commits
    * yields one ATOMIC span per transaction set — a transaction is
    * inside every member's feed or inside none, where per-member
    * watermarks can tear (A's span covering a transaction B's span
    * omits). Three transactions: t1 seeds both tables (lower half),
    * t2 grows the index (upper half + every-7th bump) and refreshes
    * stats, t3 purges every 11th key from the INDEX ONLY. The gate
    * emits both members' root-v1→v3 feeds — insert/update/delete
    * classified by value, deletes carrying v1-side values, the
    * upper-half %11 keys NETTED OUT (inserted by t2, purged by t3) —
    * plus the untouched-member pin: stats' root-v2→v3 feed is EMPTY
    * (its pin did not move; no data read). Scale: two kilobyte root
    * reads + change-bounded member diffs. */
  def q228GroupChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{ManifestMergeSink, TableGroup}
    val base = java.nio.file.Files.createTempDirectory("graft_q228_")
    try {
      val root = s"$base/group"
      val idxPath = TableGroup.tablePath(root, "index")
      val stPath = TableGroup.tablePath(root, "stats")
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      def statsOf(d: DataFrame): DataFrame = d
        .groupBy((col("doc_id") % 10).as("grp"))
        .agg(count(lit(1)).as("n"))
      def childSeq(path: String): Long =
        ManifestMergeSink.headState(spark, path).get._1
      // t1: lower half, both tables
      ManifestMergeSink.mergeIntoManifested(spark, idxPath,
        docs.filter(col("doc_id") <= cut), "doc_id", Seq("len"), 16,
        updatesUnique = true)
      ManifestMergeSink.mergeIntoManifested(spark, stPath,
        statsOf(docs.filter(col("doc_id") <= cut)), "grp", Seq("n"), 4,
        updatesUnique = true)
      val r1 = TableGroup.publishPins(spark, root,
        Map("index" -> childSeq(idxPath), "stats" -> childSeq(stPath)))
      // t2: upper half + every-7th lower bump; stats over ALL docs
      ManifestMergeSink.mergeIntoManifested(spark, idxPath,
        docs.filter(col("doc_id") > cut)
          .unionByName(docs
            .filter(col("doc_id") <= cut && col("doc_id") % 7 === 0)
            .withColumn("len", col("len") + 1000L)),
        "doc_id", Seq("len"), 16,
        updatesUnique = true) // disjoint-range union: keys stay unique
      ManifestMergeSink.mergeIntoManifested(spark, stPath,
        statsOf(docs), "grp", Seq("n"), 4, updatesUnique = true)
      val r2 = TableGroup.publishPins(spark, root,
        Map("index" -> childSeq(idxPath), "stats" -> childSeq(stPath)))
      // t3: purge the INDEX only — stats' pin must not move
      ManifestMergeSink.purgeManifested(spark, idxPath,
        docs.filter(col("doc_id") % 11 === 0).select(col("doc_id")),
        "doc_id")
      val r3 = TableGroup.publishPins(spark, root,
        Map("index" -> childSeq(idxPath)))
      val fi = TableGroup.changesBetween(spark, root, "index", r1, r3,
        "doc_id", Seq("len"))
        .select(lit("idx").as("sect"), col("doc_id").as("k"),
          col("len").as("v"), col("_change").as("chg"))
      val fst = TableGroup.changesBetween(spark, root, "stats", r1, r3,
        "grp", Seq("n"))
        .select(lit("stats").as("sect"), col("grp").as("k"),
          col("n").as("v"), col("_change").as("chg"))
      val noop = TableGroup.changesBetween(spark, root, "stats", r2, r3,
        "grp", Seq("n")).count()
      val ss = spark; import ss.implicits._
      fi.unionByName(fst)
        .unionByName(Seq(("stats_noop", Option.empty[Long], noop,
            Option.empty[String]))
          .toDF("sect", "k", "v", "chg"))
        .orderBy(col("sect"), col("k"))
        .localCheckpoint(true) // materialize before the group dir dies
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q228GroupChangeFeedSql: String =
    """WITH d AS (SELECT doc_id, length(text)::BIGINT AS len FROM documents),
      |c AS (SELECT max(doc_id) // 2 AS cut FROM d),
      |lg AS (SELECT doc_id % 10 AS grp, count(*)::BIGINT AS n
      |       FROM d, c WHERE doc_id <= cut GROUP BY 1),
      |ag AS (SELECT doc_id % 10 AS grp, count(*)::BIGINT AS n
      |       FROM d GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 'idx' AS sect, doc_id AS k, len + 1000 AS v,
      |    'update' AS chg
      |  FROM d, c WHERE doc_id <= cut AND doc_id % 7 = 0
      |    AND doc_id % 11 != 0
      |  UNION ALL
      |  SELECT 'idx', doc_id, len, 'insert' FROM d, c
      |  WHERE doc_id > cut AND doc_id % 11 != 0
      |  UNION ALL
      |  SELECT 'idx', doc_id, len, 'delete' FROM d, c
      |  WHERE doc_id <= cut AND doc_id % 11 = 0
      |  UNION ALL
      |  SELECT 'stats', ag.grp, ag.n,
      |    CASE WHEN lg.grp IS NULL THEN 'insert' ELSE 'update' END
      |  FROM ag LEFT JOIN lg ON ag.grp = lg.grp
      |  WHERE lg.grp IS NULL OR lg.n != ag.n
      |  UNION ALL
      |  SELECT 'stats_noop', NULL, 0, NULL)
      |ORDER BY sect, k""".stripMargin

  val q223TableGroupSql: String =
    """WITH d AS (SELECT doc_id, length(text)::BIGINT AS len FROM documents)
      |SELECT * FROM (
      |  SELECT 'index' AS sect, doc_id AS k, len AS v FROM d
      |  UNION ALL
      |  SELECT 'stats', doc_id % 10, count(*)::BIGINT FROM d
      |  GROUP BY doc_id % 10
      |  UNION ALL
      |  SELECT 'root_commits', NULL, 2
      |  UNION ALL
      |  SELECT 'torn_ok', NULL, 1)
      |ORDER BY sect, k""".stripMargin

  /** q224: the q222 consumer loop behind a REAL stream
    * ([[graft.streaming.StreamingFold]] over the source's `_commits`
    * directory as a text stream, one commit file per micro-batch): the
    * commit log doubles as the change-notification channel — each
    * commit is one immutable file, no side queue needed — and each
    * landed commit triggers [[graft.streaming.StreamingCdcApply.applyOnce]]
    * of the span between the replica's watermark (a txn token in the
    * replica's own commit) and the source head. The batch content is
    * only the notification; the apply reads its span from the logs, and
    * the notification stream itself moves only kilobyte commit files.
    * Run 1 bootstraps from the v1 snapshot; the source then takes
    * an update wave and a purge wave; run 2 (same checkpoint) catches
    * up in ONE atomic commit — deletes, upserts, and the watermark
    * through [[graft.sinks.ManifestMergeSink.applyChangesManifested]],
    * so exactly 2 replica commits exist in total and there is no
    * deletes-applied-watermark-missing crash window; run 3 with a
    * FRESH checkpoint redelivers every notification and must not
    * commit once (the exactly-once pin). Oracle: the q222 final state
    * + both protocol counts. */
  def q224StreamCdcApply(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      import graft.sinks.{CommitLog, ManifestMergeSink}
      import graft.streaming.{StreamingCdcApply, StreamingFold}
      val base = java.nio.file.Files.createTempDirectory("graft_q224_")
      val fs = new Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        val src = s"$base/src"
        val rep = s"$base/replica"
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), length(col("text")).cast("long").as("len"))
        val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
        ManifestMergeSink.mergeIntoManifested(spark, src,
          docs.filter(col("doc_id") <= cut), "doc_id", Seq("len"), 16,
          updatesUnique = true)
        def sync(ckpt: String): Unit =
          StreamingFold.drain(StreamingFold.files(spark,
              StructType(Seq(StructField("value", StringType))),
              s"$src/_commits", "text"),
              ckpt, "stream_cdc_apply") { (_, _) =>
            Seq("watermark" -> StreamingCdcApply.applyOnce(spark, src, rep,
              "doc_id", Seq("len"), 16, "cdc1"))
          }
        sync(s"$base/ckpt") // bootstrap off commit 1
        // the source takes an update wave and a purge wave...
        ManifestMergeSink.mergeIntoManifested(spark, src,
          docs.filter(col("doc_id") > cut)
            .unionByName(docs
              .filter(col("doc_id") <= cut && col("doc_id") % 7 === 0)
              .withColumn("len", col("len") + 1000L)),
          "doc_id", Seq("len"), 16,
          updatesUnique = true) // disjoint-range union: keys stay unique
        ManifestMergeSink.purgeManifested(spark, src,
          docs.filter(col("doc_id") % 11 === 0).select(col("doc_id")),
          "doc_id")
        sync(s"$base/ckpt") // ...and the same checkpoint catches up
        val repCommits = CommitLog.seqs(fs, new Path(rep)).size.toLong
        // redeliver EVERY notification (fresh checkpoint): exactly-once
        sync(s"$base/ckpt_replay")
        val resyncNoop =
          CommitLog.seqs(fs, new Path(rep)).size.toLong == repCommits
        val ss = spark; import ss.implicits._
        ManifestMergeSink.readManifested(spark, rep)
          .select(lit("row").as("sect"), col("doc_id"), col("len"))
          .unionByName(Seq(
              ("replica_commits", Option.empty[Long], repCommits),
              ("resync_noop", Option.empty[Long],
                if (resyncNoop) 1L else 0L))
            .toDF("sect", "doc_id", "len"))
          .orderBy(col("sect"), col("doc_id"))
          .localCheckpoint(true) // materialize before the tables die
      } finally fs.delete(new Path(base.toString), true)
    }

  /** q225: REBUCKET (partition evolution) — the snapshot's bucket count
    * changes in one atomic commit
    * ([[graft.sinks.ManifestMergeSink.rebucketManifested]]), and the
    * gate pins everything that must NOT change with it: time travel
    * reads every version exactly (v3, the rebucket commit, is
    * content-identical to v2), a change-feed span covering ONLY the
    * rebucket is empty (value-level classification — a full repoint
    * surfaces nothing), a span CROSSING it surfaces exactly the later
    * purge's deletes, a purge keeps working against the new count, and
    * a writer still configured for the old count resolves the head's
    * count transparently (nBuckets sizes the first commit only) instead
    * of corrupting the layout or wedging on a stale constant. */
  def q225Rebucket(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.ManifestMergeSink
    val base = java.nio.file.Files.createTempDirectory("graft_q225_")
    try {
      val target = s"$base/snap"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      ManifestMergeSink.mergeIntoManifested(spark, target,
        docs.filter(col("doc_id") <= cut), "doc_id", Seq("len"), 8,
        updatesUnique = true)
      ManifestMergeSink.mergeIntoManifested(spark, target,
        docs.filter(col("doc_id") > cut)
          .unionByName(docs
            .filter(col("doc_id") <= cut && col("doc_id") % 7 === 0)
            .withColumn("len", col("len") + 1000L)),
        "doc_id", Seq("len"), 8,
        updatesUnique = true) // disjoint-range union: keys stay unique
      ManifestMergeSink.rebucketManifested(spark, target, "doc_id", 16)
      ManifestMergeSink.purgeManifested(spark, target,
        docs.filter(col("doc_id") % 11 === 0).select(col("doc_id")),
        "doc_id")
      val seqs = ManifestMergeSink.commitSeqs(spark, target)
      val vers = seqs.zipWithIndex.map { case (s, i) =>
        ManifestMergeSink.readManifestedAt(spark, target, s)
          .agg(count(lit(1)).as("n"), sum(col("len")).as("len_sum"))
          .select(lit("ver").as("sect"), lit(i + 1L).as("v"), col("n"),
            col("len_sum"))
      }.reduce(_ unionByName _)
      val dOnly = ManifestMergeSink.changesBetween(spark, target,
        seqs(1), seqs(2), "doc_id", Seq("len")).count()
      val dAcross = ManifestMergeSink.changesBetween(spark, target,
        seqs(1), seqs(3), "doc_id", Seq("len"))
        .groupBy(col("_change")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // a writer still configured for the PRE-rebucket count resolves
      // the head's count and keeps working (nBuckets sizes the first
      // commit only — the q231 auto-rebucket night must be transparent
      // to day pipelines); the head count must be UNCHANGED by it
      val staleSt = ManifestMergeSink.mergeIntoManifested(spark, target,
        docs.limit(1), "doc_id", Seq("len"), 8, updatesUnique = true)
      val stale =
        if (ManifestMergeSink.headState(spark, target).get._2.nBuckets == 16
            && staleSt.nMatched + staleSt.nUpserted == 1L) 1L
        else 0L
      val ss = spark; import ss.implicits._
      vers.unionByName(Seq(
          ("diff_across_deletes", Option.empty[Long],
            dAcross.getOrElse("delete", 0L), Option.empty[Long]),
          ("diff_across_other", Option.empty[Long],
            dAcross.filterNot(_._1 == "delete").values.sum,
            Option.empty[Long]),
          ("diff_rebucket_only", Option.empty[Long], dOnly,
            Option.empty[Long]),
          ("stale_config_transparent", Option.empty[Long], stale,
            Option.empty[Long]))
        .toDF("sect", "v", "n", "len_sum"))
        .orderBy(col("sect"), col("v"))
        .localCheckpoint(true) // materialize before the snapshot dies
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q225RebucketSql: String =
    """WITH d AS (SELECT doc_id, length(text)::BIGINT AS len FROM documents),
      |c AS (SELECT max(doc_id) // 2 AS cut FROM documents),
      |v2 AS (SELECT doc_id,
      |         CASE WHEN doc_id <= cut AND doc_id % 7 = 0 THEN len + 1000
      |              ELSE len END AS len
      |       FROM d, c)
      |SELECT * FROM (
      |  SELECT 'ver' AS sect, 1::BIGINT AS v, count(*) AS n,
      |    sum(len)::BIGINT AS len_sum
      |  FROM d, c WHERE doc_id <= cut
      |  UNION ALL
      |  SELECT 'ver', 2, count(*), sum(len)::BIGINT FROM v2
      |  UNION ALL
      |  SELECT 'ver', 3, count(*), sum(len)::BIGINT FROM v2
      |  UNION ALL
      |  SELECT 'ver', 4, count(*), sum(len)::BIGINT FROM v2
      |  WHERE doc_id % 11 != 0
      |  UNION ALL
      |  SELECT 'diff_across_deletes', NULL, count(*), NULL FROM v2
      |  WHERE doc_id % 11 = 0
      |  UNION ALL
      |  SELECT 'diff_across_other', NULL, 0, NULL
      |  UNION ALL
      |  SELECT 'diff_rebucket_only', NULL, 0, NULL
      |  UNION ALL
      |  SELECT 'stale_config_transparent', NULL, 1, NULL)
      |ORDER BY sect, v""".stripMargin

  val q224StreamCdcApplySql: String =
    """WITH d AS (SELECT doc_id, length(text)::BIGINT AS len FROM documents),
      |c AS (SELECT max(doc_id) // 2 AS cut FROM documents)
      |SELECT * FROM (
      |  SELECT 'row' AS sect, doc_id,
      |    CASE WHEN doc_id <= cut AND doc_id % 7 = 0 THEN len + 1000
      |         ELSE len END AS len
      |  FROM d, c WHERE doc_id % 11 != 0
      |  UNION ALL
      |  SELECT 'replica_commits', NULL, 2
      |  UNION ALL
      |  SELECT 'resync_noop', NULL, 1)
      |ORDER BY sect, doc_id""".stripMargin
}
