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

  /** The full-outer key join every merge form runs: the target aliased
    * `t`, the updates aliased `u` with null keys dropped (guard ladder). */
  private def joinSides(target: DataFrame, updates: DataFrame,
                        key: String): DataFrame =
    target.alias("t").join(updates.filter(col(key).isNotNull).alias("u"),
      col(s"t.$key") === col(s"u.$key"), "full_outer")

  /** The merged row over [[joinSides]]: the key, the presence-aware
    * per-field merge (see [[evolvedFields]]), and the stamp on touched
    * rows. */
  private def mergedRow(target: DataFrame, updates: DataFrame, key: String,
                        fields: Seq[String], updatedAtCol: String,
                        now: Column): Seq[Column] = {
    val inT = target.columns.toSet
    val inU = updates.columns.toSet
    val merged = fields.map { f =>
      (if (inT(f) && inU(f)) coalesce(col(s"u.$f"), col(s"t.$f"))
       else if (inU(f)) col(s"u.$f")
       else col(s"t.$f")).as(f)
    }
    coalesce(col(s"t.$key"), col(s"u.$key")).as(key) +:
      merged :+
      when(col(s"u.$key").isNotNull, now)
        .otherwise(col(s"t.$updatedAtCol")).as(updatedAtCol)
  }

  /** The statement counts over [[joinSides]] as aggregates (0 on no
    * rows): matched = keys in both; modified = matched rows where any
    * update-side field lands a new value — a column the target doesn't
    * have yet counts whenever the update value is non-null (the matched
    * row gains a field; evolution IS a change); upserted = update keys
    * absent from the target. */
  private def countColumns(target: DataFrame, updates: DataFrame, key: String,
                           fields: Seq[String]): Seq[Column] = {
    val matched = col(s"t.$key").isNotNull && col(s"u.$key").isNotNull
    val inT = target.columns.toSet
    val changed = fields.filter(updates.columns.toSet).map { f =>
      if (inT(f))
        col(s"u.$f").isNotNull && (col(s"t.$f").isNull || col(s"u.$f") =!= col(s"t.$f"))
      else col(s"u.$f").isNotNull
    }.reduceOption(_ || _).getOrElse(lit(false))
    def n(c: Column, name: String): Column =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L)).as(name)
    Seq(n(matched, "n_matched"), n(matched && changed, "n_modified"),
      n(col(s"t.$key").isNull, "n_upserted"))
  }

  /** The merged snapshot as a lazy plan (no side effects): full-outer join
    * + presence-aware per-field merge (see [[evolvedFields]]). `updates`
    * must be unique per key (use [[collapseUpdates]] first). `fields`
    * may include columns only one side carries. */
  def mergePlan(target: DataFrame, updates: DataFrame, key: String,
                fields: Seq[String], updatedAtCol: String = "updatedAt",
                now: Column = stampNow()): DataFrame =
    joinSides(target, updates, key)
      .select(mergedRow(target, updates, key, fields, updatedAtCol, now): _*)

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
    val counts = countColumns(target, updates, key, fields)
    val observed = joinSides(target, updates, key)
      .observe(obs, counts.head, counts.tail: _*)
      .select(mergedRow(target, updates, key, fields, updatedAtCol, now): _*)
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
    * [[mergePlanObserved]] so data + stats cost one join total). The
    * reference the tests compare the observed counts against. */
  def mergeStats(target: DataFrame, updates: DataFrame, key: String,
                 fields: Seq[String]): MergeStats = {
    val row = joinSides(target, updates, key)
      .select(countColumns(target, updates, key, fields): _*)
      .collect()(0)
    MergeStats(row.getLong(0), row.getLong(1), row.getLong(2))
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
    * of a hash-partitioned layout (only touched `pd=` directories are
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
