package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Parquets, Tables}

/** Deterministic global shuffle + balanced sharding — the step a
  * pretraining run performs between curation and packing: break any
  * source/crawl ordering so every shard is an unbiased sample of the
  * corpus, and emit a reproducible shard layout a loader can stream.
  *
  * Scale design: the textbook form — `ORDER BY random()` or
  * `repartitionByRange` on a random key — is wrong at 100 TB twice
  * over: `random()` is non-reproducible (a re-run or a one-shard
  * backfill deals different cards), and range partitioning SAMPLES the
  * key to place its cut points, so the shard a row lands in depends on
  * the sample draw. Here the shard is a PURE FUNCTION of the document
  * id: `shard = bucket * n >> 32` over the seeded [[TrainingData.hashBucket]]
  * uniform bucket — deterministic, uniform (hash balance), and
  * growth-stable (new documents hash into shards without moving any
  * existing row's assignment; only within-shard positions shift).
  * Physically the whole operation is ONE hash shuffle on the shard id
  * plus a per-partition sort — `repartition(shard)` co-locates each
  * shard in exactly one task, `sortWithinPartitions` orders it with no
  * global sort, and `partitionBy(shard)` writes one file per shard a
  * loader (or a single-shard backfill) reads via partition pruning.
  * Reference analog: the batch split its driver deals to upsert workers
  * (main.py:55-68), made deterministic and order-defining.
  */
object Sharding {

  /** Shard assignment + within-shard position for every row: `bucket`
    * (seeded md5 hash), `shard` (hash-cut), `pos` (1-based rank by
    * (bucket, id) — the stream order a loader sees). The rank window is
    * per-shard, so its sort is bounded by shard size, never corpus
    * size; raise `nShards` until a shard fits one task. */
  def shuffleShards(docs: DataFrame, idCol: String, nShards: Int,
                    seed: String): DataFrame = {
    val b = docs.withColumn("bucket", TrainingData.hashBucket(col(idCol), seed))
      .withColumn("shard", expr(s"bucket * $nShards div 4294967296"))
    b.withColumn("pos",
      row_number().over(Window.partitionBy(col("shard"))
        .orderBy(col("bucket"), col(idCol))).cast("long"))
  }

  /** Materialize the shuffled layout: one sorted parquet file per
    * shard directory. Each shard hashes to exactly one task
    * (`repartition` on the shard id), the task sorts its rows by
    * (bucket, id) — the same order `pos` ranks — and `partitionBy`
    * routes the file under `shard=<k>/`. Returns the reopened frame
    * through the partition-discovery path the loader uses. */
  def exportShards(docs: DataFrame, idCol: String, nShards: Int,
                   seed: String, path: String): DataFrame = {
    val shuffled = shuffleShards(docs, idCol, nShards, seed)
    shuffled.repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("bucket"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    Parquets.read(docs.sparkSession, path)
      .withColumn("shard", col("shard").cast("long"))
  }

  private[operators] val ShufSeed = "shuf"
  private[operators] val NShards = 8

  /** q78: the sharded layout over `documents`, gated ROW-LEVEL through
    * the PHYSICAL path — written, reopened via partition discovery, and
    * every (doc_id, bucket, shard, pos) compared against the oracle's
    * window recomputation. Any row lost, duplicated, or re-assigned by
    * the write/reopen roundtrip fails the hash (q58's precedent of
    * gating through the layout you'd deploy). */
  def q78ShuffleShard(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q78_")
    try {
      exportShards(Tables.documents(spark, dir).select(col("doc_id")),
        "doc_id", NShards, ShufSeed, s"$base/shards")
        .select(col("doc_id"), col("bucket"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
        .localCheckpoint(true) // materialize before the layout dir is deleted
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q78ShuffleShardSql: String =
    s"""WITH b AS (SELECT doc_id,
       |  ('0x' || substring(md5('$ShufSeed:' || doc_id), 1, 8))::BIGINT AS bucket
       |  FROM documents),
       |s AS (SELECT doc_id, bucket, bucket * $NShards // 4294967296 AS shard FROM b)
       |SELECT doc_id, bucket, shard,
       |  row_number() OVER (PARTITION BY shard ORDER BY bucket, doc_id) AS pos
       |FROM s ORDER BY shard, pos""".stripMargin

  // q138 parameters: bits per dimension, file count.
  private[operators] val ZBits = 8
  private[operators] val ZFiles = 8

  /** General N-dimensional Morton (Z-order) key: interleave the low
    * `bits` bits of each bucketed dimension — dimension d's bit i lands
    * at position i·D + d, so all D dimensions advance together through
    * the key and every dimension's range predicate maps to contiguous-
    * ish z ranges (the data-skipping property). Pure integer
    * shifts/masks, bit-identical in any engine. Real layout tuning
    * wants 3-4 dims (lang × source × length × quality — q155); 2-D
    * ([[zOrderKey]]) is the q138 special case. Key width is D·bits —
    * keep it ≤ 62. */
  def zOrderKeyN(dims: Seq[Column], bits: Int): Column = {
    val d = dims.size
    require(d >= 2 && d * bits <= 62, s"dims=$d bits=$bits")
    (0 until bits).flatMap { i =>
      dims.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftrightunsigned(c, i).bitwiseAND(lit(1L)), i * d + j)
      }
    }.reduce(_ + _)
  }

  private[operators] def zOrderKeyNSql(dims: Seq[String], bits: Int): String = {
    val d = dims.size
    (0 until bits).flatMap { i =>
      dims.zipWithIndex.map { case (c, j) =>
        s"((($c >> $i) & 1) << ${i * d + j})"
      }
    }.mkString(" + ")
  }

  /** Morton (Z-order) key over two dimensions — a's bit i lands at
    * position 2i, b's at 2i+1: [[zOrderKeyN]] with D = 2. */
  def zOrderKey(a: Column, b: Column, bits: Int): Column =
    zOrderKeyN(Seq(a, b), bits)

  private def zOrderKeySql(a: String, b: String, bits: Int): String =
    zOrderKeyNSql(Seq(a, b), bits)

  /** The (doc_id, qb, lb) bucket frame q138 and q164 both layout over —
    * ONE derivation (quality·256 floored on the 4-dp-rounded score,
    * n_chars div 64, both capped at 255) so the two gates can never
    * silently diverge on the bucketing. */
  private def qualityLengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(spark, dir).select(
      col("doc_id"), col("n_chars"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      alphaRatio(col("text")).as("alpha_raw"),
      punctRatio(col("text")).as("punct_raw"),
      stopwordRatio(col("text")).as("stop_raw"))
      .select(col("doc_id"),
        least(lit(255L), floor(round(
          lit(0.25) * col("alpha_raw") +
          lit(0.25) * col("stop_raw") +
          lit(0.25) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
          lit(0.25) * (lit(1.0) - col("punct_raw")), 4) * 256).cast("long"))
          .as("qb"),
        least(lit(255L), expr("n_chars div 64")).as("lb"))
  }

  /** The matching oracle CTE prefix ending in `m(doc_id, qb, lb)`. */
  private def qualityLengthBucketsSql: String = {
    val stops = graft.functions.TextFunctions.stopwords
      .map(x => s"'$x'").mkString(", ")
    s"""t AS (SELECT doc_id, n_chars, text, ${TextQueries.tokSqlExpr} AS toks FROM documents),
       |r AS (SELECT doc_id, n_chars,
       |  len(toks)::bigint AS n_tokens,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw
       |FROM t),
       |m AS (SELECT doc_id,
       |  least(255, floor(round(0.25 * alpha_raw + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) * 256))::BIGINT AS qb,
       |  least(255, n_chars // 64)::BIGINT AS lb
       |FROM r)""".stripMargin
  }

  /** Z-ORDER LAYOUT CLUSTERING — the lakehouse data-skipping layout: a
    * single sort key that keeps BOTH dimensions locally clustered, so
    * parquet min/max stats prune files for 2-D predicates where a
    * plain 1-D sort only ever helps its own column (a quality-range
    * AND length-range curation query is the canonical consumer).
    * Files cut the z space into equal-width ranges — the assignment is
    * a PURE FUNCTION of the row (growth-stable, the [[shuffleShards]]
    * argument), and physically one hash shuffle on file_id + a
    * within-partition sort, never a global sort.
    *
    * Determinism: both dims are integer buckets (quality·256 floored —
    * the rounded-4dp quality doubles are engine-identical per q16's
    * gate, ·256 is exact IEEE, floor deterministic; n_chars div 64),
    * the key is integer bit algebra, the file cut integer math. */
  def zOrderLayout(docs: DataFrame, idCol: String, aCol: String,
                   bCol: String, nFiles: Int): DataFrame = {
    val z = zOrderKey(col(aCol), col(bCol), ZBits)
    docs.withColumn("zkey", z)
      .withColumn("file_id",
        expr(s"zkey * $nFiles div ${1 << (2 * ZBits)}"))
  }

  /** q138: the z-ordered layout over documents (quality × length
    * buckets), gated ROW-LEVEL through the PHYSICAL path — written
    * `partitionBy(file_id)` sorted by zkey, reopened via partition
    * discovery (q78's precedent), every (doc_id, qb, lb, zkey,
    * file_id) exact. The pruning WIN the layout exists for is pinned
    * in ShardingSpec (per-file min/max rectangles vs a 1-D sort). */
  def q138ZOrder(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q138_")
    try {
      val m = qualityLengthBuckets(spark, dir)
      val laid = zOrderLayout(m, "doc_id", "qb", "lb", ZFiles)
      laid.repartition(ZFiles, col("file_id"))
        .sortWithinPartitions(col("file_id"), col("zkey"), col("doc_id"))
        .write.mode("overwrite").partitionBy("file_id")
        .parquet(s"$base/zorder")
      Parquets.read(spark, s"$base/zorder")
        .select(col("doc_id"), col("qb"), col("lb"), col("zkey"),
          col("file_id").cast("long").as("file_id"))
        .orderBy(col("file_id"), col("zkey"), col("doc_id"))
        .localCheckpoint(true) // materialize before the layout dir dies
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q138ZOrderSql: String = {
    s"""WITH $qualityLengthBucketsSql,
       |z AS (SELECT doc_id, qb, lb,
       |  (${zOrderKeySql("qb", "lb", ZBits)})::BIGINT AS zkey
       |FROM m)
       |SELECT doc_id, qb, lb, zkey,
       |  zkey * $ZFiles // ${1 << (2 * ZBits)} AS file_id
       |FROM z ORDER BY file_id, zkey, doc_id""".stripMargin
  }

  // q155 parameters: 4 dimensions × 5 bits each (20-bit key), 16 files —
  // nFiles must be >= 2^D for the equal-width z cut to split on every
  // dimension's top bit (with fewer files only the later-interleaved
  // dims reach the cut, and the earlier dims never prune).
  private[operators] val Z4Bits = 5
  private[operators] val Z4Files = 16

  /** q155: N-DIMENSIONAL layout clustering — [[zOrderKeyN]] over the
    * FOUR dimensions a real corpus layout tunes on (lang × source ×
    * length × quality), q138's physical-path gate generalized: written
    * `partitionBy(file_id)` sorted by zkey, reopened via partition
    * discovery, every row exact. All four buckets are integer-exact
    * derivations (the q138 discipline): quality·32 floored on the
    * 4-dp-rounded score, n_chars div 512, the source's numeric suffix,
    * and a two-char code-point fold of lang (·2 on the first char so no
    * two fixture languages collide — en/es and fr/es tie on plain
    * sums). The 4-D pruning property (every dimension's box predicate
    * prunes files; a 1-D sort only ever helps its own column) is pinned
    * in ShardingSpec. */
  def q155ZOrder4D(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q155_")
    try {
      import graft.functions.TextFunctions._
      val m = Tables.documents(spark, dir).select(
        col("doc_id"), col("n_chars"), col("lang"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        alphaRatio(col("text")).as("alpha_raw"),
        punctRatio(col("text")).as("punct_raw"),
        stopwordRatio(col("text")).as("stop_raw"))
        .select(col("doc_id"),
          (ascii(substring(col("lang"), 1, 1)) * 2 +
            ascii(substring(col("lang"), 2, 1))).mod(32).cast("long").as("gb"),
          // 2-arg substring (no length cap), mirroring the oracle's
          // substring(source, 4) exactly — a 3-arg length-capped form
          // would silently disagree on a source id whose numeric suffix
          // exceeds the cap
          expr("substring(source, 4)").cast("long").mod(32).as("sb"),
          least(lit(31L), expr("n_chars div 512")).as("lb"),
          least(lit(31L), floor(round(
            lit(0.25) * col("alpha_raw") +
            lit(0.25) * col("stop_raw") +
            lit(0.25) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
            lit(0.25) * (lit(1.0) - col("punct_raw")), 4) * 32).cast("long"))
            .as("qb"))
      val dims = Seq(col("gb"), col("sb"), col("lb"), col("qb"))
      val laid = m.withColumn("zkey", zOrderKeyN(dims, Z4Bits))
        .withColumn("file_id",
          expr(s"zkey * $Z4Files div ${1L << (4 * Z4Bits)}"))
      laid.repartition(Z4Files, col("file_id"))
        .sortWithinPartitions(col("file_id"), col("zkey"), col("doc_id"))
        .write.mode("overwrite").partitionBy("file_id")
        .parquet(s"$base/zorder4")
      Parquets.read(spark, s"$base/zorder4")
        .select(col("doc_id"), col("gb"), col("sb"), col("lb"), col("qb"),
          col("zkey"), col("file_id").cast("long").as("file_id"))
        .orderBy(col("file_id"), col("zkey"), col("doc_id"))
        .localCheckpoint(true) // materialize before the layout dir dies
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  /** LAYOUT-HEALTH monitor — the signal that schedules a re-cluster
    * (the lakehouse OPTIMIZE trigger), completing the layout family the
    * way q89 completes IVF: q138/q155 BUILD a clustered layout; nightly
    * appends then decay it, because appended files span wide z ranges
    * and data skipping stops working. Per file: row count, its z-range,
    * and `overlap_cnt` — how many OTHER files its range intersects. A
    * freshly clustered layout has disjoint ranges (overlap 0 on every
    * file, by construction of the equal-width cut); an appended
    * unclustered file overlaps many, and every point query must now
    * read it too. When Σ overlap crosses a threshold you re-cluster —
    * measured, not scheduled.
    *
    * Scale: per-file stats are a map-side-partial groupBy to |files|
    * rows; the interval self-join runs on that tiny frame (files ×
    * files, never rows). The stats mirror exactly what parquet footers
    * carry, so at 100 TB this reads metadata, not data. */
  def layoutHealth(layout: DataFrame): DataFrame = {
    // the |files|-row stats frame feeds BOTH sides of the interval
    // self-join — materialize it once or the full layout scan runs twice
    val f = layout.groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("zkey")).as("z_lo"), max(col("zkey")).as("z_hi"))
      .localCheckpoint(true)
    val other = f.select(col("file_id").as("o_id"),
      col("z_lo").as("o_lo"), col("z_hi").as("o_hi"))
    f.join(broadcast(other),
        col("o_id") =!= col("file_id") &&
        col("o_lo") <= col("z_hi") && col("o_hi") >= col("z_lo"), "left")
      .groupBy(col("file_id"), col("n_rows"), col("z_lo"), col("z_hi"))
      .agg(sum(when(col("o_id").isNotNull, 1L).otherwise(0L)).as("overlap_cnt"))
  }

  /** q164: the health monitor through the layout LIFECYCLE the operator
    * exists for — three phases, each reported: (1) day 1 z-clustered
    * (disjoint ranges, overlap 0); (2) day 2 APPENDED as one
    * unclustered file spanning the z space (it overlaps every file it
    * straddles, and the report says exactly how badly); (3)
    * re-clustered over all rows (overlap back to 0 — the OPTIMIZE this
    * monitor schedules). Physical path throughout: each phase is
    * written, reopened via partition discovery, and measured from the
    * reopened frame (what footer stats would say). Buckets are q138's
    * (qb × lb). */
  def q164LayoutHealth(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q164_")
    try {
      val m = qualityLengthBuckets(spark, dir)
        .localCheckpoint(true) // cut once, reused by all three phases
      val cut = m.agg(max(col("doc_id"))).head().getLong(0) / 2
      val path = s"$base/layout"
      def write(df: DataFrame, mode: String): Unit =
        df.repartition(col("file_id"))
          .sortWithinPartitions(col("file_id"), col("zkey"), col("doc_id"))
          .write.mode(mode).partitionBy("file_id").parquet(path)
      def reopened(): DataFrame = Parquets.read(spark, path)
        .select(col("doc_id"), col("zkey"), col("file_id").cast("long").as("file_id"))
      // phase 1: day 1, clustered
      write(zOrderLayout(m.filter(col("doc_id") <= cut), "doc_id", "qb", "lb",
        ZFiles), "overwrite")
      // each phase's report materializes BEFORE the next write replaces
      // the files its lazy plan would re-read
      val p1 = layoutHealth(reopened()).withColumn("phase", lit("1_clustered"))
        .localCheckpoint(true)
      // phase 2: day 2 appended as ONE unclustered file (the nightly
      // ingest residue) — file_id past the clustered range
      write(m.filter(col("doc_id") > cut)
        .withColumn("zkey", zOrderKey(col("qb"), col("lb"), ZBits))
        .withColumn("file_id", lit(ZFiles.toLong)), "append")
      val p2 = layoutHealth(reopened()).withColumn("phase", lit("2_appended"))
        .localCheckpoint(true)
      // phase 3: re-cluster everything — the OPTIMIZE the monitor schedules
      write(zOrderLayout(m, "doc_id", "qb", "lb", ZFiles), "overwrite")
      val p3 = layoutHealth(reopened()).withColumn("phase", lit("3_reclustered"))
      p1.unionByName(p2).unionByName(p3)
        .select(col("phase"), col("file_id"), col("n_rows"),
          col("z_lo"), col("z_hi"), col("overlap_cnt"))
        .orderBy(col("phase"), col("file_id"))
        .localCheckpoint(true) // materialize before the layout dir dies
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q164LayoutHealthSql: String = {
    s"""WITH $qualityLengthBucketsSql,
       |z AS (SELECT doc_id, (${zOrderKeyNSql(Seq("qb", "lb"), ZBits)})::BIGINT AS zkey FROM m),
       |cut AS (SELECT max(doc_id) // 2 AS c FROM documents),
       |a1 AS (SELECT doc_id, zkey, zkey * $ZFiles // ${1 << (2 * ZBits)} AS file_id
       |       FROM z, cut WHERE doc_id <= c),
       |a2 AS (SELECT doc_id, zkey, $ZFiles::BIGINT AS file_id FROM z, cut WHERE doc_id > c),
       |a3 AS (SELECT doc_id, zkey, zkey * $ZFiles // ${1 << (2 * ZBits)} AS file_id FROM z),
       |ph(phase, doc_id, zkey, file_id) AS (
       |  SELECT '1_clustered', * FROM a1
       |  UNION ALL SELECT '2_appended', * FROM a1
       |  UNION ALL SELECT '2_appended', * FROM a2
       |  UNION ALL SELECT '3_reclustered', * FROM a3),
       |f AS (SELECT phase, file_id, count(*)::BIGINT AS n_rows,
       |        min(zkey)::BIGINT AS z_lo, max(zkey)::BIGINT AS z_hi
       |      FROM ph GROUP BY phase, file_id)
       |SELECT f.phase, f.file_id, f.n_rows, f.z_lo, f.z_hi,
       |  (SELECT count(*) FROM f o WHERE o.phase = f.phase
       |     AND o.file_id != f.file_id
       |     AND o.z_lo <= f.z_hi AND o.z_hi >= f.z_lo)::BIGINT AS overlap_cnt
       |FROM f ORDER BY phase, file_id""".stripMargin
  }

  /** What a targeted OPTIMIZE pass did: the health-flagged file ids it
    * rewrote (after transitive closure over receiving files) and the
    * file ids its rewrite produced. Empty `rewritten` = the layout was
    * healthy and NOTHING was touched (no commit, every cell keeps its
    * exact dirs — the q80 skip-idempotence contract). */
  final case class OptimizeStats(flagged: Seq[Long], rewritten: Seq[Long],
                                 produced: Seq[Long])

  // q215's day-2 z cap: appended rows are confined to the lower quarter
  // of the z space so the appended file straddles only the low-z files
  // — the flagged set is a strict subset and the untouched-files claim
  // is non-vacuous (pinned in ShardingSpec).
  private[operators] val OptZCap = (1 << (2 * ZBits)) / 4

  val q165OptimizeFlaggedSql: String =
    s"""WITH $qualityLengthBucketsSql,
       |z AS (SELECT doc_id, qb, lb,
       |  (${zOrderKeySql("qb", "lb", ZBits)})::BIGINT AS zkey
       |FROM m),
       |cut AS (SELECT max(doc_id) // 2 AS c FROM documents),
       |keep AS (SELECT z.* FROM z, cut
       |         WHERE doc_id <= c OR zkey < $OptZCap)
       |SELECT doc_id, qb, lb, zkey,
       |  zkey * $ZFiles // ${1 << (2 * ZBits)} AS file_id
       |FROM keep ORDER BY file_id, zkey, doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // The z-layout lives on the COMMIT-LOG manifest (graft.sinks.DirManifest):
  // file_id cells, every write and rewrite published in one commit
  // ---------------------------------------------------------------------

  /** Write a z-cut frame (carrying `file_id`) as a manifest generation
    * plus one commit. `append = false` replaces the whole mapping (the
    * day-1 cluster); `append = true` adds the new dirs to their cells'
    * dir lists (the day-2 arrival file). */
  def zWriteManifested(spark: SparkSession, path: String, df: DataFrame,
                       append: Boolean): Unit =
    graft.sinks.DirManifest.writeCommit(
      df.repartition(col("file_id"))
        .sortWithinPartitions(col("file_id"), col("zkey")),
      path, "file_id", append)

  /** The manifested layout as a frame (file_id reconstructed through the
    * per-generation discovery read). */
  def zReadManifested(spark: SparkSession, path: String): DataFrame = {
    import graft.sinks.DirManifest
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirManifest.read(spark, path, DirManifest.requireHead(fs, root)._2)
  }

  /** TARGETED incremental OPTIMIZE — the operator [[layoutHealth]]'s
    * report schedules: rewrite ONLY the overlap-flagged cells of a
    * z-ordered manifest layout ([[zWriteManifested]]), re-cutting their
    * rows by the pure equal-width z function (`file_id = zkey·nFiles
    * div zSpace`), and leave every clean cell on its exact dirs
    * (byte-identical — pinned in ShardingSpec). q138/q155 re-cluster by
    * rewriting the ENTIRE layout; at 100 TB a full nightly re-layout is
    * not a plan, and the monitor already names exactly which files
    * overlap — this is the Delta/Iceberg `OPTIMIZE` analog.
    *
    * Correctness of the flagged set: rewritten rows may only land in a
    * file id whose z range they overlap — so a clean cell can receive
    * rows ONLY if some flagged cell's range overlaps its range, which
    * would have flagged it. The one exception is a GAP: a flagged row
    * whose cut id names an existing cell whose ACTUAL row range does
    * not overlap the incoming row (cut ranges are wider than actual
    * ranges). The transitive closure below catches exactly that case —
    * any existing un-flagged cell that would RECEIVE rows is promoted
    * into the rewrite set (its rows must merge with the incoming ones,
    * not be clobbered), and closure re-checks the promoted cells' own
    * targets. Clustered cells cut to themselves, so the closure
    * terminates in practice after one promotion round (bounded by
    * |files| regardless).
    *
    * Publish: ONE commit-file create repointing every rewritten cell at
    * once — atomic ACROSS the rewrite set, rename-free, and loud under
    * a concurrent committer (re-measured and re-run). A crash before
    * the commit leaves an orphan generation that [[graft.sinks.DirManifest.vacuum]]
    * sweeps; readers never see a half-rewritten layout.
    *
    * Scale: the health report is footer-stats metadata (|files| rows);
    * the flagged set and closure are driver-side set algebra over
    * ≤ |files| longs (the touched-bucket budget of
    * [[graft.sinks.ManifestMergeSink.mergeIntoManifested]]); data I/O is
    * proportional to the flagged cells' bytes, never the layout's. */
  def optimizeFlaggedManifested(spark: SparkSession, path: String,
                                nFiles: Int, zSpace: Long,
                                maxRetries: Int = 20): OptimizeStats = {
    require(nFiles >= 1 && zSpace >= 1, s"nFiles=$nFiles zSpace=$zSpace")
    import graft.sinks.DirManifest
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (true) {
      val (seq, st) = DirManifest.requireHead(fs, root)
      val existing = st.parts.keySet
      val health = layoutHealth(
        DirManifest.read(spark, path, st).select(col("zkey"), col("file_id")))
      val flagged = health.filter(col("overlap_cnt") > 0)
        .select(col("file_id").cast("long"))
        .collect().map(_.getLong(0)).toSet // ≤ |files| — footer-stats scale
      if (flagged.isEmpty) return OptimizeStats(Nil, Nil, Nil)
      // transitive closure over receiving cells (see the scaladoc):
      // promote any existing cell a rewrite-set row would land in
      def cutIdsOf(ids: Set[Long]): Set[Long] =
        DirManifest.read(spark, path, st, Some(ids.toSeq))
          .select(expr(s"zkey * $nFiles div $zSpace").as("cid"))
          .distinct().collect().map(_.getLong(0)).toSet
      var rewrite = flagged
      var frontier = flagged
      while (frontier.nonEmpty) {
        frontier = (cutIdsOf(frontier) intersect existing) diff rewrite
        rewrite ++= frontier
      }
      val rows = DirManifest.read(spark, path, st, Some(rewrite.toSeq))
        .drop("file_id")
        .withColumn("file_id", expr(s"zkey * $nFiles div $zSpace"))
      val gen = s"g-${java.util.UUID.randomUUID().toString.take(8)}"
      rows.repartition(col("file_id"))
        .sortWithinPartitions(col("file_id"), col("zkey"))
        .write.mode("overwrite").partitionBy("file_id").parquet(s"$path/$gen")
      val written = DirManifest.writtenParts(fs, root, gen, "file_id")
      val newParts = (st.parts -- rewrite) ++
        written.map { case (f, d) => f -> Seq(d) }
      try {
        DirManifest.commitCas(fs, root, seq,
          DirManifest.DmState(newParts, st.extra))
        return OptimizeStats(flagged.toSeq.sorted, rewrite.toSeq.sorted,
          written.map(_._1).sorted)
      } catch {
        case e: graft.sinks.CommitLog.CommitConflictException =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/$gen"), true)
          attempt += 1
          if (attempt >= maxRetries) throw e
      }
    }
    OptimizeStats(Nil, Nil, Nil) // unreachable
  }

  /** q215: the TARGETED-OPTIMIZE lifecycle — day 1 z-clustered (q138's
    * layout over the ≤-cut half), day 2 appended as ONE unclustered
    * low-z cell (`file_id = ZFiles`, rows capped at [[OptZCap]]), then
    * [[optimizeFlaggedManifested]]: only the appended cell and the low-z
    * cells it straddles rewrite, in ONE commit; every other cell keeps
    * its exact dirs (ShardingSpec pins the mapping, the flagged subset,
    * the closure and no-op idempotence). The gate is row-level: every
    * (doc_id, qb, lb, zkey, file_id) of the committed head must equal
    * the oracle's pure-function recomputation over day1 ∪ day2∩cap —
    * which IS the full re-cluster assignment. The `q165_optimize_flagged`
    * name runs this body too: its oracle is the same text. */
  def q215OptimizeManifested(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q215_")
    try {
      val m = qualityLengthBuckets(spark, dir)
        .localCheckpoint(true) // cut once, reused by both days
      val cut = m.agg(max(col("doc_id"))).head().getLong(0) / 2
      val path = s"$base/layout"
      // day 1: clustered; day 2: ONE unclustered appended cell, low-z rows
      zWriteManifested(spark, path,
        zOrderLayout(m.filter(col("doc_id") <= cut), "doc_id", "qb", "lb",
          ZFiles), append = false)
      zWriteManifested(spark, path,
        m.filter(col("doc_id") > cut)
          .withColumn("zkey", zOrderKey(col("qb"), col("lb"), ZBits))
          .filter(col("zkey") < OptZCap)
          .withColumn("file_id", lit(ZFiles.toLong)), append = true)
      optimizeFlaggedManifested(spark, path, ZFiles, 1L << (2 * ZBits))
      zReadManifested(spark, path)
        .select(col("doc_id"), col("qb"), col("lb"), col("zkey"),
          col("file_id").cast("long").as("file_id"))
        .orderBy(col("file_id"), col("zkey"), col("doc_id"))
        .localCheckpoint(true) // materialize before the layout dir dies
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q215OptimizeManifestedSql: String = q165OptimizeFlaggedSql

  /** Write a layout carrying `file_id` AND its [[statsManifest]]: one
    * generation partitioned by file_id (rows sorted within each cell),
    * one commit publishing the full mapping, then the `_stats` zone-map
    * manifest computed from the REOPENED head (what the footers
    * actually contain, not what the writer intended — a lost cell shows
    * up as a missing manifest row, not a phantom one). */
  def writeStatsLayoutManifested(df: DataFrame, sortCols: Seq[String],
                                 statsCols: Seq[String], path: String): Unit = {
    graft.sinks.DirManifest.writeCommit(
      df.repartition(col("file_id"))
        .sortWithinPartitions(("file_id" +: sortCols).map(col): _*),
      path, "file_id", append = false)
    refreshStatsManifestFrom(zReadManifested(df.sparkSession, path), path,
      statsCols)
  }

  /** q216: DATA SKIPPING through the physical path — `events` written
    * as manifest cells with `file_id = (day-1) div 4` (the ingest-day
    * layout) in one commit, its `_stats` zone maps computed from the
    * committed head, then a 4-day `ts` window answered via
    * [[skippingScanManifested]]: the zone-map test picks the surviving
    * file ids and the data read prunes AT THE MAPPING (pruned-out
    * cells' dirs are never listed). The gate is row-level exact on the
    * window's events AND on the file economics: the oracle recomputes
    * every file's min/max ts from the same pure day assignment, applies
    * the same zone-map test, and must agree on `files_read` (2),
    * `files_total` (8), and `pruned_ok` — no literal booleans. The
    * predicate column (`ts`) is NOT the partition key: the zone maps
    * prune on the correlation between event time and ingest day,
    * exactly the case footer stats serve and a partition filter alone
    * cannot express. The `q169_skipping_scan` name runs this body too:
    * its oracle is the same text. */
  def q216SkippingManifested(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q216_")
    try {
      val path = s"$base/layout"
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .withColumn("file_id", expr(s"(dayofmonth(ts) - 1) div $SkipDaysPerFile"))
      writeStatsLayoutManifested(ev, Seq("ts", "event_id"),
        Seq("ts", "user_id"), path)
      val scan = skippingScanManifested(spark, path, "ts",
        lit(SkipLo).cast("timestamp"), lit(SkipHi).cast("timestamp"))
      scan.rows
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("file_id").cast("long").as("file_id"))
        .withColumn("files_read", lit(scan.filesRead))
        .withColumn("files_total", lit(scan.filesTotal))
        .withColumn("pruned_ok", lit(scan.filesRead < scan.filesTotal))
        .orderBy(col("event_id"))
        .localCheckpoint(true) // materialize before the layout dir dies
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  def q216SkippingManifestedSql: String = q169SkippingScanSql

  val q155ZOrder4DSql: String = {
    val stops = graft.functions.TextFunctions.stopwords
      .map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, n_chars, lang, source, text, ${TextQueries.tokSqlExpr} AS toks FROM documents),
       |r AS (SELECT doc_id, n_chars, lang, source,
       |  len(toks)::bigint AS n_tokens,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw
       |FROM t),
       |m AS (SELECT doc_id,
       |  ((ascii(substring(lang, 1, 1)) * 2 + ascii(substring(lang, 2, 1))) % 32)::BIGINT AS gb,
       |  (substring(source, 4)::BIGINT % 32)::BIGINT AS sb,
       |  least(31, n_chars // 512)::BIGINT AS lb,
       |  least(31, floor(round(0.25 * alpha_raw + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) * 32))::BIGINT AS qb
       |FROM r),
       |z AS (SELECT doc_id, gb, sb, lb, qb,
       |  (${zOrderKeyNSql(Seq("gb", "sb", "lb", "qb"), Z4Bits)})::BIGINT AS zkey
       |FROM m)
       |SELECT doc_id, gb, sb, lb, qb, zkey,
       |  zkey * $Z4Files // ${1L << (4 * Z4Bits)} AS file_id
       |FROM z ORDER BY file_id, zkey, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // File-level data skipping: stats manifest (zone maps) + Bloom index
  // ---------------------------------------------------------------------

  /** PER-FILE COLUMN-STATS MANIFEST (zone maps) — one row per layout
    * file carrying `n_rows` and `min_c`/`max_c` for every stats column:
    * exactly what parquet footers already know, lifted into ONE tiny
    * table so a planner prunes the file list from a single metadata
    * read instead of opening every footer (the Delta/Iceberg
    * `add.stats` analog — at 100 TB a million-footer open is itself a
    * scan). The aggregate is map-side partial to |files| rows; the
    * manifest is metadata-scale forever. */
  def statsManifest(layout: DataFrame, fileCol: String,
                    cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "statsManifest needs at least one stats column")
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    layout.groupBy(col(fileCol).cast("long").as("file_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  private def statsPath(path: String) = s"$path/_stats"

  /** Recompute `_stats` from the layout given as a frame (the head read
    * through [[zReadManifested]], which reconstructs file_id through the
    * mapping; a bare parquet read of a manifest root would sweep
    * generation dirs as data). The manifest must FOLLOW every rewrite:
    * stale zone maps don't lose rows ([[skippingScanManifested]]
    * re-filters inside the surviving cells) but they stop pruning, and
    * a manifest row for a deleted file id would prune a phantom.
    * [[graft.jobs.MaintainJob]] runs this whenever its optimize touched
    * data. One |files|-row aggregate, written as one file. */
  def refreshStatsManifestFrom(layout: DataFrame, path: String,
                               statsCols: Seq[String]): Unit =
    statsManifest(layout, "file_id", statsCols)
      .coalesce(1)
      .write.mode("overwrite").parquet(statsPath(path))

  /** Whether the layout carries a stats manifest. */
  def hasStatsManifest(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(statsPath(path))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** What a skipping scan read: the pruned row frame plus the file
    * economics the manifest bought (`filesRead` of `filesTotal`). */
  final case class SkipScan(rows: DataFrame, filesRead: Long, filesTotal: Long)

  /** MANIFEST-PRUNED RANGE SCAN — the consumer of
    * [[writeStatsLayoutManifested]]: one metadata read of `_stats`
    * decides which cells can possibly hold `lo ≤ c ≤ hi` (`max_c ≥ lo ∧
    * min_c ≤ hi` — the zone-map test), and the data read prunes AT THE
    * MAPPING ([[graft.sinks.DirManifest.read]] of exactly those cells'
    * dirs) — the pruned-out cells' dirs are never even listed (pinned in
    * ShardingSpec via the scan's opened dirs). The row predicate still
    * applies inside the surviving cells, so the scan is exact however
    * loose the zone maps are; the manifest only ever removes
    * provably-empty cells. Driver-side state is the pruned id list —
    * ≤ |files| longs. */
  def skippingScanManifested(spark: SparkSession, path: String,
                             predCol: String, lo: Column,
                             hi: Column): SkipScan = {
    import graft.sinks.DirManifest
    val stats = Parquets.read(spark, statsPath(path))
      .select(col("file_id"), col(s"min_$predCol"), col(s"max_$predCol"))
      .localCheckpoint(true) // one metadata read feeds both counts
    val filesTotal = stats.count()
    val keep = stats
      .filter(col(s"max_$predCol") >= lo && col(s"min_$predCol") <= hi)
      .select(col("file_id")).collect().map(_.getLong(0)).toSeq
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, st) = DirManifest.requireHead(fs, root)
    val mapped = keep.filter(st.parts.contains)
    val rows =
      if (mapped.isEmpty) DirManifest.emptyRead(spark, path, st)
      else DirManifest.read(spark, path, st, Some(mapped))
        .filter(col(predCol) >= lo && col(predCol) <= hi)
    SkipScan(rows, keep.size.toLong, filesTotal)
  }

  // q216 parameters: events laid out by ingest day (4 days per file —
  // the nightly-append layout a stream sink produces), stats on the
  // event timestamp, and a 4-day window query that the manifest must
  // prune to exactly the 2 files whose day ranges intersect it.
  private[operators] val SkipDaysPerFile = 4
  private[operators] val SkipLo = "2024-01-10 00:00:00"
  private[operators] val SkipHi = "2024-01-13 23:59:59.999999"

  val q169SkippingScanSql: String =
    s"""WITH e AS (SELECT event_id, ts, user_id, event_type,
       |  ((date_part('day', ts) - 1) // $SkipDaysPerFile)::BIGINT AS file_id
       |  FROM events),
       |f AS (SELECT file_id, min(ts) AS mn, max(ts) AS mx FROM e GROUP BY 1),
       |sel AS (SELECT count(*)::BIGINT AS files_read FROM f
       |        WHERE mx >= TIMESTAMP '$SkipLo' AND mn <= TIMESTAMP '$SkipHi'),
       |tot AS (SELECT count(*)::BIGINT AS files_total FROM f)
       |SELECT event_id, ts, user_id, event_type, file_id,
       |  files_read, files_total, (files_read < files_total) AS pruned_ok
       |FROM e, sel, tot
       |WHERE ts >= TIMESTAMP '$SkipLo' AND ts <= TIMESTAMP '$SkipHi'
       |ORDER BY event_id""".stripMargin

  // q170 Bloom parameters: m bits per file, k hash functions. Fixture
  // files carry ~625 keys at sf0.1 → load k·n/m ≈ 0.11, per-file false-
  // positive rate (1-e^-load)^k ≈ 1e-3 — candidate sets stay ~1 file.
  private[operators] val BloomBits = 16384
  private[operators] val BloomK = 3

  /** PER-FILE BLOOM INDEX — the skipping structure for POINT lookups on
    * a key the layout scatters ([[statsManifest]]'s complement: a
    * hash-sharded corpus gives every file the full key range, so
    * min/max prunes nothing, which is exactly why Delta/Iceberg carry
    * per-file bloom filters beside the zone maps). Representation: the
    * set of SET BIT POSITIONS per file, `pos_j(key) =
    * md5("bf<j>:"+key) mod m` for j < k — the seeded-md5 hash family
    * every sampler gate already uses ([[TrainingData.hashBucket]]), so
    * the index is oracle-reproducible bit for bit. Size: ≤ min(k·n, m)
    * ints per file, metadata-scale; build is one map-side-partial
    * distinct over (file, pos). */
  def bloomFileIndex(layout: DataFrame, fileCol: String,
                     keyCol: String): DataFrame = {
    val positions = (0 until BloomK).map(j =>
      pmod(TrainingData.hashBucket(col(keyCol), s"bf$j"), lit(BloomBits.toLong)))
    layout.select(col(fileCol).cast("long").as("file_id"),
        explode(array(positions: _*)).as("pos"))
      .distinct()
  }

  /** q170: BLOOM POINT LOOKUP through the physical path — `documents`
    * written in q78's HASH-SHARDED layout (`file_id` from the seeded id
    * hash: every file spans the full doc_id range, so zone maps are
    * provably useless here), a per-file [[bloomFileIndex]] on `doc_id`
    * built beside it, then every 29th doc_id point-looked-up through
    * the index. Row-level exact on the retrieved documents AND on the
    * economics: the oracle rebuilds the same md5 bloom bit-for-bit and
    * must agree on every per-key `n_candidates` — the false-positive
    * count is CHECKED, not waved at. */
  def q170BloomLookup(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q170_")
    try {
      val path = s"$base/layout"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("bucket", TrainingData.hashBucket(col("doc_id"), ShufSeed))
        .withColumn("file_id", expr(s"bucket * $NShards div 4294967296"))
        .drop("bucket")
      docs.repartition(col("file_id"))
        .sortWithinPartitions(col("file_id"), col("doc_id"))
        .write.mode("overwrite").partitionBy("file_id").parquet(path)
      val reopened = Parquets.read(spark, path)
      val index = bloomFileIndex(reopened, "file_id", "doc_id")
        .localCheckpoint(true) // metadata-scale; feeds probe + total
      val filesTotal = index.select(col("file_id")).distinct().count()
      val keys = reopened.select(col("doc_id"))
        .filter(col("doc_id") % 29 === 1)
      val probePos = keys.select(col("doc_id"),
        explode(array((0 until BloomK).map(j =>
          pmod(TrainingData.hashBucket(col("doc_id"), s"bf$j"),
            lit(BloomBits.toLong))): _*)).as("pos"))
        .distinct()
      // candidate iff ALL the key's probed positions are set in the
      // file's index — "all" is the key's own DISTINCT position count,
      // not k: two seeds may hash a key to the same bit
      val nPos = probePos.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pos"))
      val cand = probePos.join(index, Seq("pos"))
        .groupBy(col("doc_id"), col("file_id"))
        .agg(count_distinct(col("pos")).as("n_hit"))
        .join(broadcast(nPos), Seq("doc_id"))
        .filter(col("n_hit") === col("n_pos"))
        .select(col("doc_id"), col("file_id"))
        .localCheckpoint(true) // feeds the pruned read AND the counts
      val candFiles = cand.select(col("file_id")).distinct()
        .collect().map(_.getLong(0)).toSeq // ≤ |files| — metadata scale
      val perKey = cand.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_candidates"))
      val rows = Parquets.read(spark, path)
        .filter(col("file_id").isin(candFiles.map(java.lang.Long.valueOf): _*))
        .join(broadcast(keys), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("file_id").cast("long").as("file_id"))
      rows.join(broadcast(perKey), Seq("doc_id"))
        .withColumn("files_total", lit(filesTotal))
        .withColumn("pruned_ok", col("n_candidates") < col("files_total"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // materialize before the layout dir dies
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q170BloomLookupSql: String = {
    val posSel = (0 until BloomK).map(j =>
      s"('0x' || substring(md5('bf$j:' || doc_id), 1, 8))::BIGINT % $BloomBits")
      .mkString(", ")
    s"""WITH d AS (SELECT doc_id, lang, n_chars,
       |  (('0x' || substring(md5('$ShufSeed:' || doc_id), 1, 8))::BIGINT
       |    * $NShards // 4294967296)::BIGINT AS file_id
       |  FROM documents),
       |idx AS (SELECT DISTINCT file_id, unnest([$posSel]) AS pos FROM d),
       |tot AS (SELECT count(DISTINCT file_id)::BIGINT AS files_total FROM idx),
       |k AS (SELECT doc_id FROM d WHERE doc_id % 29 = 1),
       |pp AS (SELECT doc_id, unnest([$posSel]) AS pos FROM k),
       |cand AS (SELECT pp.doc_id, idx.file_id
       |         FROM (SELECT DISTINCT doc_id, pos FROM pp) pp
       |         JOIN idx ON idx.pos = pp.pos
       |         GROUP BY pp.doc_id, idx.file_id
       |         HAVING count(DISTINCT pp.pos) =
       |           (SELECT count(DISTINCT pos) FROM pp p2 WHERE p2.doc_id = pp.doc_id)),
       |pk AS (SELECT doc_id, count(*)::BIGINT AS n_candidates FROM cand GROUP BY 1)
       |SELECT d.doc_id, d.lang, d.n_chars, d.file_id,
       |  pk.n_candidates, files_total,
       |  (pk.n_candidates < files_total) AS pruned_ok
       |FROM d JOIN pk ON pk.doc_id = d.doc_id, tot
       |ORDER BY d.doc_id""".stripMargin
  }
}
