package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sinks.ManifestMergeSink
import graft.sinks.ManifestMergeSink.PurgeStats

/** KEY PURGE across a snapshot AND its derived state — the
  * right-to-be-forgotten operation a governed 100 TB corpus must run on
  * demand (the Delta/Iceberg DELETE analog, plus the part those systems
  * leave to the user: a purged document's entries in DERIVED indexes
  * must go too, or the corpus keeps "remembering" the content).
  *
  * The dedup-index purge has the one subtle rule: an index row is
  * (content_hash → survivor doc_id), so the row to delete is the one
  * whose SURVIVOR is purged — a hash whose survivor doc remains keeps
  * its row (that content legitimately still exists under a non-purged
  * document), and purging a survivor FREES the slot, so the first
  * re-arrival of that content re-inserts (exactly what forgetting
  * means: the engine no longer suppresses the content as "seen").
  *
  * IO contract end to end: the snapshot purge reads/rewrites only the
  * buckets the purged KEYS hash to ([[ManifestMergeSink.purgeManifested]]);
  * the index purge prunes to the buckets the purged docs' HASHES hash
  * to — valid because a doomed row's hash is by construction the hash
  * of its purged survivor's text, so no doomed row can live outside a
  * candidate bucket. Nothing in the path reads an untouched bucket.
  */
object Purge {

  // q176 parameters: purge set + re-ingested half, first-commit bucket count.
  private val PurgeMod = 13L
  private val ReingestMod = 26L
  private val NBuckets = 8

  /** Purge a dedup index ([[MergeQueries.dedupIngestManifested]]'s
    * layout) of every row whose survivor doc is in `purgedDocs`
    * (`(content_hash, doc_id)` of the purged documents). The candidate
    * hashes prune the read to the doomed rows' buckets under the head's
    * bucket count; the doc_id condition picks exactly the
    * survivor-purged rows, which [[ManifestMergeSink.purgeManifested]]
    * then deletes in one commit. */
  def purgeDedupIndex(spark: SparkSession, indexPath: String,
                      purgedDocs: DataFrame): PurgeStats = {
    val (_, st) = ManifestMergeSink.headState(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"no committed manifest snapshot at $indexPath"))
    val pbs = ManifestMergeSink.bucketsOf(spark, indexPath,
      purgedDocs.select(col("content_hash")), "content_hash", st.nBuckets)
    if (pbs.isEmpty)
      return PurgeStats(0L, 0L, 0)
    val doomed = ManifestMergeSink.readStateBuckets(spark, indexPath, st, pbs)
      .join(broadcast(purgedDocs.select(col("doc_id")).distinct()),
        Seq("doc_id")) // survivor is purged
      .select(col("content_hash"))
    ManifestMergeSink.purgeManifested(spark, indexPath, doomed, "content_hash")
  }

  /** q176: the purge lifecycle end to end — ingest all documents into a
    * manifested hash-bucketed snapshot AND its exact-dedup index; purge
    * every 13th doc from both; re-ingest the even half of the purged
    * docs, which must LAND again (snapshot rows back, index slots
    * re-claimed — the forgetting proof); emit both final states. The
    * oracle restates the whole lifecycle as set algebra over md5(text),
    * so a row that survived the purge, a slot the index failed to free,
    * or a re-ingest the stale index suppressed all fail the hash
    * row-level. */
  def q176PurgeForget(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.MergeQueries.dedupIngestManifested
    val base = java.nio.file.Files.createTempDirectory("graft_q176_")
    val fs = new org.apache.hadoop.fs.Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val snap = s"$base/snap"
      val idx = s"$base/idx"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text")).as("content_hash"))
        .localCheckpoint(true) // feeds ingest, purge, and re-ingest
      ManifestMergeSink.mergeIntoManifested(spark, snap,
        docs.select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", Seq("lang", "n_chars"), NBuckets)
      dedupIngestManifested(spark, idx,
        docs.select(col("content_hash"), col("doc_id")), NBuckets)
      // the purge
      val purged = docs.filter(col("doc_id") % PurgeMod === 0L)
      val s1 = ManifestMergeSink.purgeManifested(spark, snap,
        purged.select(col("doc_id")), "doc_id")
      require(s1.nPurged > 0, "fixture must exercise a non-empty purge")
      purgeDedupIndex(spark, idx,
        purged.select(col("content_hash"), col("doc_id")))
      // the re-arrival: half the purged docs come back and must land
      val back = docs.filter(col("doc_id") % ReingestMod === 0L)
      dedupIngestManifested(spark, idx,
        back.select(col("content_hash"), col("doc_id")), NBuckets)
      ManifestMergeSink.mergeIntoManifested(spark, snap,
        back.select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", Seq("lang", "n_chars"), NBuckets)
      ManifestMergeSink.readManifested(spark, snap)
        .select(lit("snapshot").as("sect"), col("doc_id"),
          lit(null).cast("string").as("content_hash"),
          col("lang"), col("n_chars").as("c"))
        .unionByName(ManifestMergeSink.readManifested(spark, idx)
          .select(lit("index").as("sect"), col("doc_id"), col("content_hash"),
            lit(null).cast("string").as("lang"),
            lit(null).cast("long").as("c")))
        .orderBy(col("sect"), col("doc_id"), col("content_hash"))
        .localCheckpoint(true) // materialize before the temp dirs die
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  /** q177: the purge reaching RETAINED HISTORY — q176 forgets in the
    * head snapshot and its index; this gate proves time travel forgets
    * too. Three deterministic versions commit (q171's fixture shapes),
    * [[graft.sinks.VersionCatalog.purge]] drops every 13th doc from ALL
    * of them, and each version reads back row-equal to its original
    * frame minus the purged keys — a version the purge skipped, or a
    * non-purged row it clipped, fails the hash. Purged counts are
    * emitted as one `sect='purged'` row per version (exact integers the
    * oracle recomputes). */
  def q177CatalogPurge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionCatalog
    val base = java.nio.file.Files.createTempDirectory("graft_q177_")
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
              when(col("doc_id") % 5 === 0, 1L).otherwise(0L)).as("c")))
      val purgedPerV = VersionCatalog.purge(spark, cat,
        docs.filter(col("doc_id") % PurgeMod === 0L).select(col("doc_id")),
        "doc_id")
      val ss = spark; import ss.implicits._
      val counts = purgedPerV.toDF("v", "n")
        .select(lit("purged").as("sect"), col("v").as("version"),
          col("n").as("doc_id"), lit(null).cast("string").as("lang"),
          lit(null).cast("long").as("c"))
      (1L to 3L).map { v =>
          VersionCatalog.readVersion(spark, cat, v)
            .select(lit(s"v$v").as("sect"), lit(v).as("version"),
              col("doc_id"), col("lang"), col("c"))
        }
        .reduce(_ unionByName _)
        .unionByName(counts)
        .orderBy(col("sect"), col("version"), col("doc_id"))
        .localCheckpoint(true) // materialize before the catalog dir dies
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q177CatalogPurgeSql: String =
    s"""WITH v1 AS (SELECT doc_id, lang, n_chars AS c FROM documents),
       |v2 AS (SELECT doc_id, lang, n_chars AS c FROM documents WHERE doc_id % 7 != 0),
       |v3 AS (SELECT doc_id, lang,
       |    n_chars + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS c
       |  FROM documents WHERE doc_id % 7 != 0)
       |SELECT * FROM (
       |  SELECT 'purged' AS sect, 1::BIGINT AS version,
       |    (SELECT count(*) FROM v1 WHERE doc_id % $PurgeMod = 0) AS doc_id,
       |    NULL::VARCHAR AS lang, NULL::BIGINT AS c
       |  UNION ALL
       |  SELECT 'purged', 2::BIGINT,
       |    (SELECT count(*) FROM v2 WHERE doc_id % $PurgeMod = 0),
       |    NULL::VARCHAR, NULL::BIGINT
       |  UNION ALL
       |  SELECT 'purged', 3::BIGINT,
       |    (SELECT count(*) FROM v3 WHERE doc_id % $PurgeMod = 0),
       |    NULL::VARCHAR, NULL::BIGINT
       |  UNION ALL
       |  SELECT 'v1', 1::BIGINT, doc_id, lang, c FROM v1 WHERE doc_id % $PurgeMod != 0
       |  UNION ALL
       |  SELECT 'v2', 2::BIGINT, doc_id, lang, c FROM v2 WHERE doc_id % $PurgeMod != 0
       |  UNION ALL
       |  SELECT 'v3', 3::BIGINT, doc_id, lang, c FROM v3 WHERE doc_id % $PurgeMod != 0)
       |ORDER BY sect, version, doc_id""".stripMargin

  /** q178: the purge QUEUE streamed — deletion requests land as marker
    * files (each a parquet of doc_ids), [[graft.streaming.StreamingFold]]
    * drives [[ManifestMergeSink.purgeManifested]] one request per
    * micro-batch (one commit each), and a REPLAYED duplicate of the
    * first request is landed in-gate:
    * purge idempotence (absent keys rewrite identical content) is the
    * at-least-once contract here — no ledger needed, unlike the
    * additive-state sinks, and order is immaterial because purge sets
    * compose by union. Per batch, cost ∝ the buckets the request's keys
    * hash to. Final snapshot = documents minus both request sets,
    * row-level exact. */
  def q178StreamPurge(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      import graft.streaming.StreamingFold
      val base = java.nio.file.Files.createTempDirectory("graft_q178_")
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(base.toString).getFileSystem(conf)
      try {
        val snap = s"$base/snap"
        val queue = s"$base/queue"
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .localCheckpoint(true) // feeds the ingest and the request sets
        ManifestMergeSink.mergeIntoManifested(spark, snap, docs, "doc_id",
          Seq("lang", "n_chars"), NBuckets)
        def land(ids: DataFrame, tag: String): Unit =
          StreamingFold.land(ids, queue, s"req_$tag.parquet")
        land(docs.filter(col("doc_id") % PurgeMod === 0L)
          .select(col("doc_id")), "a")
        land(docs.filter(col("doc_id") % 11L === 0L)
          .select(col("doc_id")), "b")
        land(docs.filter(col("doc_id") % PurgeMod === 0L)
          .select(col("doc_id")), "a_replayed") // idempotence exercised
        StreamingFold.drain(StreamingFold.files(spark,
            StructType(Seq(StructField("doc_id", LongType))), queue),
            s"$base/ckpt", "stream_purge") { (batch, _) =>
          val st = ManifestMergeSink.purgeManifested(spark, snap, batch, "doc_id")
          Seq("purged" -> st.nPurged, "buckets" -> st.nBucketsTouched.toLong)
        }
        ManifestMergeSink.readManifested(spark, snap)
          .select(col("doc_id"), col("lang"), col("n_chars").as("c"))
          .orderBy(col("doc_id"))
          .localCheckpoint(true) // materialize before the temp dirs die
      } finally {
        fs.delete(new Path(base.toString), true)
      }
    }

  val q178StreamPurgeSql: String =
    s"""SELECT doc_id, lang, n_chars AS c FROM documents
       |WHERE doc_id % $PurgeMod != 0 AND doc_id % 11 != 0
       |ORDER BY doc_id""".stripMargin

  val q176PurgeForgetSql: String =
    s"""WITH d AS (SELECT doc_id, lang, n_chars AS c, md5(text) AS h FROM documents),
       |idx0 AS (SELECT h, min(doc_id) AS s FROM d GROUP BY h),
       |p AS (SELECT doc_id FROM d WHERE doc_id % $PurgeMod = 0),
       |idx1 AS (SELECT * FROM idx0 WHERE s NOT IN (SELECT doc_id FROM p)),
       |b AS (SELECT h, min(doc_id) AS s FROM d
       |      WHERE doc_id % $ReingestMod = 0 GROUP BY h),
       |idx2 AS (SELECT * FROM idx1
       |         UNION ALL
       |         SELECT * FROM b WHERE h NOT IN (SELECT h FROM idx1)),
       |snap AS (SELECT doc_id, lang, c FROM d
       |         WHERE doc_id % $PurgeMod != 0 OR doc_id % $ReingestMod = 0)
       |SELECT * FROM (
       |  SELECT 'snapshot' AS sect, doc_id, NULL::VARCHAR AS content_hash,
       |    lang, c
       |  FROM snap
       |  UNION ALL
       |  SELECT 'index', s, h, NULL::VARCHAR, NULL::BIGINT FROM idx2)
       |ORDER BY sect, doc_id, content_hash""".stripMargin
}
