package graft.sinks

import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.Parquets
import graft.expressions.ReferencedTimestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetOutputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Keyed upsert ("merge") sink — the engine-owned replacement for the
  * reference's MongoDB bulk-write sink (reference: src/func/mongo.py:103-163,
  * statement semantics :28-79).
  *
  * Semantics preserved from the reference (SURVEY.md §2A fine print):
  *  1. null-skip — a null payload field never overwrites a stored value
  *     (mongo.py:60-63): implemented as `coalesce(update.f, target.f)`;
  *  2. upsert — unmatched keys are inserted (mongo.py:79); an inserted row
  *     carries only its non-null fields;
  *  3. `updatedAt` is stamped on every touched row, matched or inserted
  *     (mongo.py:64-66), and preserved on untouched rows. The stamp is
  *     ONE value per merge, taken when the merge plan is built (per
  *     attempt on a retrying sink), and carried as a referenced constant
  *     ([[graft.expressions.ReferencedTimestamp]]), not as the literal
  *     `current_timestamp()` folds to: a literal is inlined into the
  *     generated Java, so every merge would compile its result stage
  *     afresh, while the referenced constant leaves the source identical
  *     from merge to merge and the compiled class is reused;
  *  4. result counts {nMatched, nModified, nUpserted} (mongo.py:140-145);
  *  5. rows with a null key are dropped, not failed (mongo.py:46-57) — the
  *     reference's guard ladder;
  *  6. duplicate keys — DOCUMENTED DIVERGENCE (SURVEY.md §2A item 5): the
  *     reference applies duplicates in arrival order (last-write-wins per
  *     field); a set-oriented merge folds them explicitly instead:
  *     per field, the last non-null value in `orderCol` order wins, which
  *     reproduces sequential null-skip application when an arrival-order
  *     column exists, and is deterministic when it doesn't. The fold is
  *     ONE sort per merge ([[collapseUpdates]]). Tie rule: on rows tied
  *     in `orderCol`, a plan sorting once per field could take different
  *     fields from different tied rows in different orders; one sort
  *     reads every field in the same order, and the order among the tied
  *     rows is still unspecified.
  *
  * Scale design: the merge is one full-outer shuffle join on the key —
  * at cluster scale the target snapshot should be written bucketed by the
  * key so the join co-locates without re-shuffling the (large) target;
  * AQE handles skewed keys. The snapshot swap is a pure metadata rename,
  * independent of data volume.
  */
object MergeSink {

  /** Merge result counts, mirroring the reference's bulk-write result shape
    * (mongo.py:140-145; nInserted ≡ nUpserted for upserts). */
  final case class MergeStats(nMatched: Long, nModified: Long, nUpserted: Long) {
    def nInserted: Long = nUpserted
  }

  /** Fold duplicate update keys: per payload field, the last non-null value
    * in `orderCol` order (reference applies per-row statements sequentially;
    * mongo.py:60-63 + SURVEY §2A item 5). Without `orderCol` the rows of a
    * key are ordered by their field values, ascending field by field with
    * nulls first (the order of `struct(fields)`), so the fold depends only
    * on the rows, not on their arrival order.
    *
    * ONE sort, whatever the field count: the order is plain columns (the
    * fields, or `orderCol` staged once as `__ord`), and every field's
    * `last(f, ignoreNulls)` over the unbounded frame plus the `row_number`
    * that picks one row per key are computed in one `select` over one
    * partition/order spec — one Exchange on the key, one Sort, one Window.
    * (Spark re-aliases an inline order expression such as `struct(fields)`
    * per window expression, and windows ordered by different aliases
    * cannot share a sort.) The merge join reuses the key partitioning and
    * the key-prefixed sort order (plan-audited).
    *
    * Ties in `orderCol`: every field is read in the same order of the
    * tied rows, so the fold equals sequential application in one order of
    * them; which order that is stays unspecified. */
  def collapseUpdates(updates: DataFrame, key: String, fields: Seq[String],
                      orderCol: Option[String] = None): DataFrame = {
    val staged = updates.select(
      col(key) +: fields.map(col) ++: orderCol.map(c => col(c).as("__ord")).toSeq: _*)
    val ord =
      if (orderCol.isDefined) Seq("__ord") else if (fields.nonEmpty) fields else Seq(key)
    val byOrd = Window.partitionBy(col(key)).orderBy(ord.map(col(_).asc): _*)
    val whole = byOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // every row of a key carries the same folded values (unbounded
    // frame), so the first row in sort order is as good as any
    staged
      .select(col(key) +:
        fields.map(f => last(col(f), ignoreNulls = true).over(whole).as(f)) :+
        row_number().over(byOrd).as("__rn"): _*)
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[collapseUpdates]]'s fast path for callers whose update set is
    * PROVABLY unique per key — the induction derives (anti-joined
    * inserts ∪ remapped index rows, each keyed once) and the
    * groupBy-keyed folds (dedup's min-per-hash, vocab's summed type
    * counts). On a key-unique frame the fold window is a per-row
    * identity (last non-null over a one-row partition = the value), so
    * skipping it changes NOTHING about the merged values while removing
    * one exchange + sort + window pass per merge attempt (optimization
    * guide §2.4 — remove shuffles outright). Callers assert uniqueness;
    * every call site documents why it holds. */
  def normalizeUnique(updates: DataFrame, key: String,
                      fields: Seq[String]): DataFrame =
    updates.filter(col(key).isNotNull)
      .select(col(key) +: fields.map(col): _*)

  /** SCHEMA EVOLUTION (every layout): the merged field set is the UNION
    * of the target's existing payload columns and the update's fields,
    * in target order with new columns appended — so a nightly ingest
    * whose day-2 batch carries a column day 1 never had evolves the
    * snapshot in place (new column null on unmatched rows) instead of
    * forcing a manual snapshot rewrite. The reference hard-codes one
    * fixed schema end to end (src/cli/generate_data.py:27-34, duplicated
    * in src/func/parquet.py:18-50); Mongo documents would have absorbed
    * a new field silently — this restores that property for the
    * relational snapshot. Field presence decides the merge expression:
    * both sides → null-skip coalesce; update-only → the update value
    * (old rows null); target-only → carried through untouched. */
  private[sinks] def evolvedFields(target: DataFrame, key: String,
                                   fields: Seq[String],
                                   updatedAtCol: String): Seq[String] = {
    val tPayload = target.columns.toSeq
      .filterNot(c => c == key || c == updatedAtCol)
    tPayload ++ fields.filterNot(tPayload.contains)
  }

  /** The current instant, at `current_timestamp()`'s microsecond
    * precision, as one referenced constant — the default `now` of
    * [[mergePlan]] and [[mergePlanObserved]] (item 3). */
  def stampNow(): Column = ColumnBridge.column(
    ReferencedTimestamp(DateTimeUtils.instantToMicros(Instant.now())))

  /** Parquet writer options for a merge's new generation: dictionary
    * encoding off for the columns where a dictionary cannot pay, the
    * default for every other column.
    *
    * Two kinds of leaf column qualify:
    *  - the merge `key`: a snapshot holds each key once, so a dictionary
    *    of it is as large as the column and parquet-mr abandons it after
    *    building it;
    *  - every column whose chunks in the generation being replaced have
    *    no dictionary page: parquet-mr itself fell back to PLAIN there.
    *    The evidence is one footer, of the first data file (by name) in
    *    the first of `previous` that has one.
    * Building a dictionary only to abandon it was a third of the
    * executor samples of a 2,000-row upsert into an 80k-row snapshot of
    * UUID keys and random floats. A column loses its dictionary here
    * only where the last generation had none, so the files keep the
    * encodings parquet-mr ended with. With no previous generation (a
    * first write, an empty target) only the key qualifies, so a
    * low-cardinality column such as `updatedAt` always keeps its
    * dictionary. The rule ratchets: a footer cannot tell parquet-mr's
    * fallback from this option, so a column written PLAIN here stays
    * PLAIN on later merges. A column whose values turn repetitive after
    * that is stored larger than it need be, never wrong, until a write
    * outside the merge path (a compaction, a rebucket) re-learns it.
    * Options take the form `parquet.enable.dictionary#<col>`, parquet-mr's
    * per-column setting. */
  private[graft] def dictionaryOptions(hconf: Configuration, previous: Seq[Path],
                                      key: String): Map[String, String] = {
    def isData(name: String) = !name.startsWith("_") && !name.startsWith(".")
    val oneFile = previous.iterator.flatMap { dir =>
      val fs = dir.getFileSystem(hconf)
      if (!fs.exists(dir)) None
      else fs.listStatus(dir).filter(st => st.isFile && isData(st.getPath.getName))
        .sortBy(_.getPath.getName).headOption
    }.nextOption()
    val plain = oneFile.toSeq.flatMap { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, hconf))
      val footer = try reader.getFooter finally reader.close()
      footer.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString)
        .collect { case (c, chunks) if !chunks.exists(_.hasDictionaryPage) => c }
    }
    (plain :+ key).map(c => s"${ParquetOutputFormat.ENABLE_DICTIONARY}#$c" -> "false").toMap
  }

  /** The merged snapshot as a lazy plan (no side effects): full-outer join
    * + presence-aware per-field merge (see [[evolvedFields]]). `updates`
    * must be unique per key (use [[collapseUpdates]] first). `fields`
    * may include columns only one side carries. */
  def mergePlan(target: DataFrame, updates: DataFrame, key: String,
                fields: Seq[String], updatedAtCol: String = "updatedAt",
                now: Column = stampNow()): DataFrame = {
    val t = target.alias("t")
    val u = updates.filter(col(key).isNotNull).alias("u")
    val touched = col(s"u.$key").isNotNull
    val inT = target.columns.toSet
    val inU = updates.columns.toSet
    val merged = fields.map { f =>
      (if (inT(f) && inU(f)) coalesce(col(s"u.$f"), col(s"t.$f"))
       else if (inU(f)) col(s"u.$f")
       else col(s"t.$f")).as(f)
    }
    t.join(u, col(s"t.$key") === col(s"u.$key"), "full_outer")
      .select(
        coalesce(col(s"t.$key"), col(s"u.$key")).as(key) +:
        merged :+
        when(touched, now).otherwise(col(s"t.$updatedAtCol")).as(updatedAtCol): _*)
  }

  /** Merged snapshot + statement-level counts in ONE pass: the full-outer
    * join runs once, and the counts are collected as observed metrics
    * (`Dataset.observe`) during whatever action materializes the snapshot
    * — the round-1 implementation executed the join twice (once for a
    * stats collect, once for the data write), doubling the dominant
    * shuffle. Call [[statsOf]] on the returned Observation AFTER an
    * action has run on the returned frame. */
  def mergePlanObserved(target: DataFrame, updates: DataFrame, key: String,
                        fields: Seq[String], updatedAtCol: String = "updatedAt",
                        now: Column = stampNow()): (DataFrame, Observation) = {
    val obs = Observation()
    val t = target.alias("t")
    val u = updates.filter(col(key).isNotNull).alias("u")
    val matched = col(s"t.$key").isNotNull && col(s"u.$key").isNotNull
    val inT = target.columns.toSet
    val inU = updates.columns.toSet
    // modified = any update-side field lands a new value; a column the
    // target doesn't have yet counts whenever the update value is
    // non-null (the matched row gains a field — evolution IS a change)
    val changed = fields.filter(inU).map { f =>
      if (inT(f))
        col(s"u.$f").isNotNull && (col(s"t.$f").isNull || col(s"u.$f") =!= col(s"t.$f"))
      else col(s"u.$f").isNotNull
    }.reduceOption(_ || _).getOrElse(lit(false))
    val touched = col(s"u.$key").isNotNull
    val merged = fields.map { f =>
      (if (inT(f) && inU(f)) coalesce(col(s"u.$f"), col(s"t.$f"))
       else if (inU(f)) col(s"u.$f")
       else col(s"t.$f")).as(f)
    }
    val observed = t.join(u, col(s"t.$key") === col(s"u.$key"), "full_outer")
      .observe(obs,
        coalesce(sum(when(matched, 1L).otherwise(0L)), lit(0L)).as("n_matched"),
        coalesce(sum(when(matched && changed, 1L).otherwise(0L)), lit(0L)).as("n_modified"),
        coalesce(sum(when(col(s"t.$key").isNull, 1L).otherwise(0L)), lit(0L)).as("n_upserted"))
      .select(
        coalesce(col(s"t.$key"), col(s"u.$key")).as(key) +:
        merged :+
        when(touched, now).otherwise(col(s"t.$updatedAtCol")).as(updatedAtCol): _*)
    (observed, obs)
  }

  /** Reads the observed merge counts (valid only after an action on the
    * observed frame). */
  def statsOf(obs: Observation): MergeStats = {
    val m = obs.get
    MergeStats(m("n_matched").asInstanceOf[Long],
      m("n_modified").asInstanceOf[Long],
      m("n_upserted").asInstanceOf[Long])
  }

  /** Statement-level counts WITHOUT writing the merge (stats-only API —
    * runs the join for the counts alone; the write path uses
    * [[mergePlanObserved]] so data + stats cost one join total):
    * matched = keys in both; modified = matched rows where any field value
    * actually changes under null-skip; upserted = update keys absent from
    * the target. */
  def mergeStats(target: DataFrame, updates: DataFrame, key: String,
                 fields: Seq[String]): MergeStats = {
    val t = target.alias("t")
    val u = updates.filter(col(key).isNotNull).alias("u")
    val matched = col(s"t.$key").isNotNull && col(s"u.$key").isNotNull
    val inT = target.columns.toSet
    val changed = fields.filter(updates.columns.toSet).map { f =>
      if (inT(f))
        col(s"u.$f").isNotNull && (col(s"t.$f").isNull || col(s"u.$f") =!= col(s"t.$f"))
      else col(s"u.$f").isNotNull
    }.reduceOption(_ || _).getOrElse(lit(false))
    val row = t.join(u, col(s"t.$key") === col(s"u.$key"), "full_outer")
      .select(
        sum(when(matched, 1L).otherwise(0L)).as("m"),
        sum(when(matched && changed, 1L).otherwise(0L)).as("mod"),
        sum(when(col(s"t.$key").isNull, 1L).otherwise(0L)).as("up"))
      .collect()(0)
    def v(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    MergeStats(v(0), v(1), v(2))
  }

  /** Empty first-run target with the key and payload types taken from the
    * UPDATE frame (a hard-coded string key would make the snapshot's key
    * column string forever, and every later bucketed merge would cast —
    * re-shuffling the target the bucketing exists to protect). */
  private[sinks] def emptyTarget(spark: SparkSession, unique: DataFrame, key: String,
                                 fields: Seq[String], updatedAtCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val s = StructType(
      unique.schema(key).copy(name = key) +:
      fields.map(f => unique.schema(f).copy(name = f)) :+
      StructField(updatedAtCol, TimestampType))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
  }

  /** Merge `updates` into the keyed parquet snapshot at `targetPath`,
    * atomically: write the merged snapshot to a sibling temp dir, then
    * swap via filesystem renames (metadata-only; no data rewrite on swap).
    * A missing/empty target behaves as an empty collection — everything
    * upserts (reference: a fresh Mongo collection).
    * Returns the reference-shaped counts. */
  def mergeInto(spark: SparkSession, targetPath: String, updates: DataFrame,
                key: String, fields: Seq[String],
                orderCol: Option[String] = None,
                updatedAtCol: String = "updatedAt",
                updatesUnique: Boolean = false): MergeStats = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val path = new Path(targetPath)
    val fs = path.getFileSystem(hconf)

    recoverSwap(fs, path, new Path(targetPath + ".__merge_bak"))
    val unique =
      if (updatesUnique) normalizeUnique(updates, key, fields)
      else collapseUpdates(updates.filter(col(key).isNotNull), key, fields, orderCol)
    val target =
      if (fs.exists(path) && fs.listStatus(path).nonEmpty)
        Parquets.read(spark, targetPath)
      else emptyTarget(spark, unique, key, fields, updatedAtCol)

    // One join execution total: the parquet write materializes the merge,
    // and the counts come back as observed metrics of that same action.
    // Field set = target payload ∪ update fields (schema evolution).
    val (merged, obs) = mergePlanObserved(target, unique, key,
      evolvedFields(target, key, fields, updatedAtCol), updatedAtCol)

    val tmp = new Path(targetPath + ".__merge_tmp")
    val bak = new Path(targetPath + ".__merge_bak")
    fs.delete(tmp, true); fs.delete(bak, true)
    merged.write.options(dictionaryOptions(hconf, Seq(path), key))
      .mode("overwrite").parquet(tmp.toString)
    atomicSwap(fs, tmp, path, bak)
    statsOf(obs)
  }

  /** Partition-pruned merge — the third physical layout, for the cost
    * neither sibling removes: [[mergeInto]] and [[mergeIntoBucketed]]
    * both REWRITE the whole snapshot per merge (their swap is
    * metadata-only, but the write behind it is corpus-sized).
    * Here the snapshot lives partitioned by a stable hash bucket of the
    * key (`pb = pmod(xxhash64(key), nBuckets)`), and a merge:
    *
    *  1. computes the distinct buckets the update keys TOUCH (≤ nBuckets
    *     small longs — driver-safe by construction);
    *  2. reads only those buckets of the snapshot (PartitionFilters
    *     prune at the parquet source — a key's bucket is deterministic,
    *     so no match can hide in an unread bucket);
    *  3. merges ([[mergePlanObserved]] — same semantics, same counts)
    *     and writes the touched buckets to a temp dir;
    *  4. swaps ONLY those bucket directories into the snapshot
    *     (per-bucket renames — [[atomicSwap]]'s metadata-only move,
    *     scoped to what changed).
    *
    * Per-merge IO is proportional to the touched buckets' data, not the
    * corpus: a nightly batch touching 50 of 4096 buckets reads and
    * rewrites ~1.2% of a 100 TB snapshot. The trade, stated honestly:
    * the swap is atomic per bucket, not across buckets — a crash
    * mid-swap leaves some buckets new and some old (each internally
    * consistent; re-running the merge converges, since the merge is
    * idempotent on data). A transactional manifest layer is what fixes
    * that window at scale; the directory contract here is the same one
    * the reference accepts for its unordered bulk writes
    * (mongo.py:107,139). Choose nBuckets so a single bucket's data fits
    * a comfortable task set (corpus / nBuckets ≈ tens of GB). */
  def mergeIntoPartitioned(spark: SparkSession, targetPath: String,
                           updates: DataFrame, key: String,
                           fields: Seq[String], nBuckets: Int,
                           orderCol: Option[String] = None,
                           updatedAtCol: String = "updatedAt",
                           updatesUnique: Boolean = false): MergeStats = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be positive")
    val hconf = spark.sparkContext.hadoopConfiguration
    val path = new Path(targetPath)
    val fs = path.getFileSystem(hconf)
    def pb(c: Column): Column = pmod(xxhash64(c), lit(nBuckets.toLong))

    // localCheckpoint: the folded update set is consumed twice (bucket
    // probe + merge join) — without it the collapse window re-runs
    val unique =
      (if (updatesUnique) normalizeUnique(updates, key, fields)
       else collapseUpdates(updates.filter(col(key).isNotNull), key,
         fields, orderCol)).localCheckpoint(true)
    val touched = graft.Sparks.distinctLongs(unique, pb(col(key)))
      .toArray // ≤ nBuckets values — one exchange-free job
    val exists = fs.exists(path) && fs.listStatus(path).nonEmpty
    val target =
      if (exists)
        readPartitioned(spark, targetPath)
          .filter(col("pb").isin(touched.map(java.lang.Long.valueOf): _*))
          .drop("pb") // recomputed from the key on write
      else emptyTarget(spark, unique, key, fields, updatedAtCol)
    val (merged, obs) = mergePlanObserved(target, unique, key,
      evolvedFields(target, key, fields, updatedAtCol), updatedAtCol)

    val tmp = new Path(targetPath + ".__merge_tmp")
    fs.delete(tmp, true)
    merged.withColumn("pb", pb(col(key)))
      .write.mode("overwrite").partitionBy("pb").parquet(tmp.toString)
    fs.mkdirs(path)
    // Persist the evolved schema BEFORE the bucket swaps: after an
    // in-place evolution the snapshot has mixed parquet footers (touched
    // pb= dirs carry the new column, untouched dirs don't), and footer
    // inference — plain OR mergeSchema — is the wrong authority: plain
    // read silently drops the evolved column depending on which footer
    // Spark samples, and mergeSchema reads EVERY file's footer on every
    // open (at 100 TB, a metadata scan per query). The manifest is the
    // one-file authority [[readPartitioned]] reads instead. Ordering
    // argument: manifest-then-buckets means a crash between them leaves
    // a manifest advertising a column no file carries yet — an explicit-
    // schema read returns null for it (exactly parquet's missing-column
    // semantics, and the re-run converges); buckets-then-manifest would
    // leave the OPPOSITE window, a stale manifest silently hiding
    // already-written data.
    writeSchemaManifest(fs, path, org.apache.spark.sql.types.StructType(
      merged.schema.fields :+ org.apache.spark.sql.types.StructField(
        "pb", org.apache.spark.sql.types.LongType, nullable = false)))
    fs.listStatus(tmp).filter(_.getPath.getName.startsWith("pb="))
      .foreach { st =>
        val dest = new Path(path, st.getPath.getName)
        fs.delete(dest, true)
        require(fs.rename(st.getPath, dest),
          s"partitioned merge swap failed: could not move ${st.getPath} to $dest")
      }
    fs.delete(tmp, true)
    statsOf(obs)
  }

  /** The schema-manifest file a partitioned snapshot carries at its root
    * (underscore-prefixed so Spark's file listing ignores it as data). */
  private[graft] val SchemaManifestFile = "_graft_schema.json"

  /** Atomically publish the snapshot's authoritative schema: write to a
    * sibling temp file, rename into place. A crash between the delete
    * and the rename leaves no manifest — [[readPartitioned]] then falls
    * back to the mergeSchema union read, which is correct (just slower),
    * so every window degrades to a safe read. */
  private def writeSchemaManifest(fs: FileSystem, root: Path,
                                  schema: org.apache.spark.sql.types.StructType): Unit = {
    val tmp = new Path(root, SchemaManifestFile + ".__tmp")
    val out = fs.create(tmp, true)
    try out.write(schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(root, SchemaManifestFile)
    fs.delete(dest, false)
    require(fs.rename(tmp, dest),
      s"schema manifest publish failed: could not move $tmp to $dest")
  }

  /** The committed manifest schema of a partitioned snapshot, if one has
    * been published. */
  private[graft] def readSchemaManifest(
      fs: FileSystem, root: Path): Option[org.apache.spark.sql.types.StructType] = {
    val dest = new Path(root, SchemaManifestFile)
    if (!fs.exists(dest)) None
    else {
      val in = fs.open(dest)
      val json =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Read a [[mergeIntoPartitioned]] snapshot with its MANIFEST schema —
    * the contract path-based consumers must use after any evolving merge:
    * the manifest names every evolved column (pre-evolution files read
    * null for columns they lack), costs one tiny file read instead of
    * mergeSchema's every-footer scan, and is immune to plain footer
    * inference's which-file-did-Spark-sample lottery. Snapshots written
    * before the manifest existed (or a crash in the manifest's
    * delete→rename window) fall back to the mergeSchema union read —
    * correct on mixed footers, just metadata-expensive. */
  def readPartitioned(spark: SparkSession, targetPath: String): DataFrame = {
    val path = new Path(targetPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSchemaManifest(fs, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(targetPath)
      case None => spark.read.option("mergeSchema", "true").parquet(targetPath)
    }
  }

  /** Key-purge result: row counts over the TOUCHED buckets only (the
    * untouched remainder is never read). */
  final case class PurgeStats(nBefore: Long, nAfter: Long,
                              nBucketsTouched: Int) {
    def nPurged: Long = nBefore - nAfter
  }

  /** DELETE every row whose `key` is in `keys` from a
    * [[mergeIntoPartitioned]] snapshot — the right-to-be-forgotten /
    * Delta-DELETE operation a governed corpus must run on demand.
    *
    * IO contract (the whole point at 100 TB): the key frame hashes to
    * its buckets, ONLY those bucket dirs are read, anti-joined against
    * the broadcast key set, and rewritten via the per-dir delete+rename
    * swap [[mergeIntoPartitioned]] uses; every untouched bucket stays
    * BYTE-identical (spec-pinned). A bucket whose rows are all purged
    * produces no tmp dir and its target dir is deleted outright. Purge
    * cost ∝ touched-bucket bytes, never snapshot size. The schema
    * manifest is left untouched — a purge never changes the schema.
    *
    * Purging keys that are absent is a content-level no-op (the touched
    * buckets are rewritten with identical rows — idempotent, so a purge
    * REPLAY is always safe). Both row counts ride the single write
    * action as [[Observation]]s, the mergePlanObserved discipline. */
  def purgePartitioned(spark: SparkSession, targetPath: String,
                       keys: DataFrame, key: String,
                       nBuckets: Int): PurgeStats = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be positive")
    val path = new Path(targetPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"purge target $targetPath does not exist")
    def pb(c: Column): Column = pmod(xxhash64(c), lit(nBuckets.toLong))
    // localCheckpoint: probed for buckets, then broadcast-anti-joined
    val uniq = keys.select(col(key)).filter(col(key).isNotNull)
      .distinct().localCheckpoint(true)
    val touched = uniq.select(pb(col(key)).as("pb")).distinct()
      .collect().map(_.getLong(0)) // ≤ nBuckets values — driver-safe
    if (touched.isEmpty) return PurgeStats(0L, 0L, 0)
    val obsBefore = Observation()
    val obsAfter = Observation()
    val kept = readPartitioned(spark, targetPath)
      .filter(col("pb").isin(touched.map(java.lang.Long.valueOf): _*))
      .drop("pb")
      .observe(obsBefore, count(lit(1)).as("n"))
      .join(broadcast(uniq), Seq(key), "left_anti")
      .observe(obsAfter, count(lit(1)).as("n"))
    val tmp = new Path(targetPath + ".__purge_tmp")
    fs.delete(tmp, true)
    kept.withColumn("pb", pb(col(key)))
      .write.mode("overwrite").partitionBy("pb").parquet(tmp.toString)
    touched.foreach { b =>
      val dest = new Path(path, s"pb=$b")
      val src = new Path(tmp, s"pb=$b")
      fs.delete(dest, true)
      if (fs.exists(src))
        require(fs.rename(src, dest),
          s"purge swap failed: could not move $src to $dest")
    }
    fs.delete(tmp, true)
    PurgeStats(obsBefore.get("n").asInstanceOf[Long],
      obsAfter.get("n").asInstanceOf[Long], touched.length)
  }

  /** [[purgePartitioned]] with the purge set given as plain values —
    * the shape a deletion-request queue delivers. */
  def purgePartitionedKeys(spark: SparkSession, targetPath: String,
                           keyValues: Seq[Long], key: String,
                           nBuckets: Int): PurgeStats = {
    import spark.implicits._
    purgePartitioned(spark, targetPath, keyValues.toDF(key), key, nBuckets)
  }

  /** The [[atomicSwap]] crash-window probe, shared by EVERY swap-backed
    * state sink (this sink, the sketch/sample/skyline/CDC states;
    * [[LedgeredState]] and [[VersionCatalog]] moved to the rename-free
    * [[CommitLog]] protocol): a crash BETWEEN the two renames leaves no
    * target while `bak` holds the last committed snapshot — without
    * recovery the next operation's exists-check silently treats the
    * state as fresh-empty and the whole committed history is discarded.
    * The rule is unambiguous and must stay in ONE place: restore ONLY
    * when the target is absent (a crash after the second rename but
    * before the bak cleanup leaves BOTH — then the new state is
    * committed and `bak` is just garbage for the next swap's delete).
    * Call this before any exists/read of a swap-managed path. */
  private[graft] def recoverSwap(fs: FileSystem, path: Path, bak: Path): Unit = {
    if (!fs.exists(path) && fs.exists(bak)) {
      require(fs.rename(bak, path),
        s"swap recovery failed: could not restore $bak to $path")
    }
  }

  /** Two-rename snapshot swap with automatic rollback: `path` → `bak`,
    * then `tmp` → `path`. If the SECOND rename fails, the target would be
    * absent (old data safe in `bak` but recovery manual — and a tolerant
    * caller like BulkUpdateJob would log-and-continue against a missing
    * snapshot), so the backup is restored before rethrowing: the swap
    * either completes or leaves the previous snapshot in place. */
  private[graft] def atomicSwap(fs: FileSystem, tmp: Path, path: Path,
                                bak: Path): Unit = {
    val hadTarget = fs.exists(path)
    if (hadTarget) {
      require(fs.rename(path, bak), s"swap failed: could not move $path aside")
    }
    try {
      require(fs.rename(tmp, path), s"swap failed: could not move $tmp into place")
    } catch {
      case e: Throwable =>
        if (hadTarget && !fs.exists(path) && fs.exists(bak) &&
            !fs.rename(bak, path)) {
          e.addSuppressed(new IllegalStateException(
            s"rollback failed: previous snapshot left at $bak"))
        }
        throw e
    }
    fs.delete(bak, true)
  }

  /** Bucketed-table merge: same semantics as [[mergeInto]], but the target
    * lives as a parquet TABLE bucketed (and sorted) by the key, so the
    * merge's sort-merge join reads the target side pre-partitioned — no
    * exchange on the (large) target, only the (small) update set shuffles.
    * This is the 100 TB layout: re-bucketing a 100 TB snapshot on every
    * merge is the round-1 plan's hidden cost; with `bucketBy` the shuffle
    * is paid once at write time and every subsequent merge reuses it.
    * The swap is a catalog drop+rename (metadata-only, like the directory
    * swap in [[mergeInto]]). */
  def mergeIntoBucketed(spark: SparkSession, table: String, updates: DataFrame,
                        key: String, fields: Seq[String], nBuckets: Int,
                        orderCol: Option[String] = None,
                        updatedAtCol: String = "updatedAt",
                        updatesUnique: Boolean = false): MergeStats = {
    val unique =
      if (updatesUnique) normalizeUnique(updates, key, fields)
      else collapseUpdates(updates.filter(col(key).isNotNull), key, fields, orderCol)
    val target =
      if (spark.catalog.tableExists(table)) spark.table(table)
      else emptyTarget(spark, unique, key, fields, updatedAtCol)
    val (merged, obs) = mergePlanObserved(target, unique, key,
      evolvedFields(target, key, fields, updatedAtCol), updatedAtCol)
    val tmp = s"${table}__merge_tmp"
    val bak = s"${table}__merge_bak"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    spark.sql(s"DROP TABLE IF EXISTS $bak")
    merged.write.format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)
      .saveAsTable(tmp)
    catalogSwap(spark, tmp, table, bak)()
    statsOf(obs)
  }

  /** The COMPOSED layout — partitioned by a coarse hash-directory key
    * AND bucketed by the merge key within each directory: the fourth
    * quadrant of SCALE.md's merge-layout table, taking the bounded IO
    * of [[mergeIntoPartitioned]] (only touched `pd=` directories are
    * read and rewritten) AND the exchange-free target join of
    * [[mergeIntoBucketed]] (a bucketed scan reports HashPartitioning on
    * the key regardless of which directories it pruned to, because each
    * bucket id spans every directory). Per-merge cost at 100 TB:
    * touched-directory scan (partition pruning) + the update set's
    * shuffle + touched-directory bucketed rewrite via dynamic partition
    * overwrite (Spark stages replacement directories and commits
    * per-partition — untouched directories are never listed, read, or
    * written). */
  def mergeIntoPartitionedBucketed(spark: SparkSession, table: String,
                                   updates: DataFrame, key: String,
                                   fields: Seq[String], nParts: Int,
                                   nBuckets: Int,
                                   orderCol: Option[String] = None,
                                   updatedAtCol: String = "updatedAt",
                                   updatesUnique: Boolean = false): MergeStats = {
    require(nParts >= 1 && nBuckets >= 1, s"nParts=$nParts nBuckets=$nBuckets")
    def pd(c: Column): Column = pmod(xxhash64(c), lit(nParts.toLong))
    val unique =
      (if (updatesUnique) normalizeUnique(updates, key, fields)
       else collapseUpdates(updates.filter(col(key).isNotNull), key,
         fields, orderCol)).localCheckpoint(true) // probed for dirs, then merged
    if (!spark.catalog.tableExists(table)) {
      val (merged, obs) = mergePlanObserved(
        emptyTarget(spark, unique, key, fields, updatedAtCol),
        unique, key, fields, updatedAtCol)
      merged.withColumn("pd", pd(col(key)))
        .write.format("parquet").partitionBy("pd")
        .bucketBy(nBuckets, key).sortBy(key).saveAsTable(table)
      return statsOf(obs)
    }
    val touched = graft.Sparks.distinctLongs(unique, pd(col(key)))
      .toArray // ≤ nParts values — one exchange-free job
    val target = spark.table(table)
      .filter(col("pd").isin(touched.map(java.lang.Long.valueOf): _*))
      .drop("pd") // recomputed from the key on write
    val (merged, obs) = mergePlanObserved(target, unique, key,
      evolvedFields(target, key, fields, updatedAtCol), updatedAtCol)
    // schema evolution on the catalog layout: new update columns are
    // declared via ALTER TABLE ADD COLUMNS (metadata-only — the catalog
    // schema is authoritative, so files written BEFORE the evolution
    // read null for the added column; untouched directories are never
    // rewritten), and the insert aligns to the table's column order
    // because insertInto matches POSITIONALLY
    val newCols = unique.columns
      .filterNot(c => c == key || spark.table(table).columns.contains(c))
    newCols.foreach { c =>
      spark.sql(s"ALTER TABLE $table ADD COLUMNS ($c ${unique.schema(c).dataType.sql})")
    }
    val aligned = merged.withColumn("pd", pd(col(key)))
      .select(spark.table(table).columns.map(col): _*)
    // dynamic overwrite replaces exactly the touched directories and
    // keeps the table's bucket spec; scope the session-global mode and
    // restore it (the q59-advice discipline on global mutation)
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "dynamic")
    try
      aligned.write.mode("overwrite").insertInto(table)
    finally prev match {
      case Some(v) => spark.conf.set(modeKey, v)
      case None => spark.conf.unset(modeKey)
    }
    statsOf(obs)
  }

  /** Catalog-table counterpart of [[atomicSwap]]: rename the live table
    * aside, move the replacement into place, drop the backup — and if the
    * FORWARD rename fails after the target was moved aside (the window
    * where no table holds the target name), restore the backup before
    * rethrowing, so the swap either completes or leaves the previous
    * snapshot under its name. `rename` is injectable for the
    * failure-injection test (catalog renames offer no FilterFileSystem
    * seam like the directory swap's). */
  private[graft] def catalogSwap(spark: SparkSession, tmp: String,
      table: String, bak: String)(
      mv: (String, String) => Unit =
        (from, to) => { spark.sql(s"ALTER TABLE $from RENAME TO $to"); () }): Unit = {
    val hadTarget = spark.catalog.tableExists(table)
    if (hadTarget) mv(table, bak)
    try mv(tmp, table)
    catch {
      case e: Throwable =>
        if (hadTarget && !spark.catalog.tableExists(table) &&
            spark.catalog.tableExists(bak)) {
          try mv(bak, table)
          catch {
            case e2: Throwable => e.addSuppressed(new IllegalStateException(
              s"rollback failed: previous snapshot left at $bak", e2))
          }
        }
        throw e
    }
    spark.sql(s"DROP TABLE IF EXISTS $bak")
  }
}
