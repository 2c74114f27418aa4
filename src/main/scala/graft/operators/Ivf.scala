package graft.operators

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Parquets, Tables}
import graft.functions.VectorFunctions._
import graft.sinks.CommitLog

/** IVF (inverted-file) approximate nearest neighbors — the coarse-
  * quantizer scale path next to the SRP-LSH variant in
  * [[SimilarityQueries]]: k-means centroids partition the corpus into
  * `nlist` lists; a query scores only the `nprobe` nearest lists, so the
  * scan cost drops to ~nprobe/nlist of brute force.
  *
  * Scale design (the three pieces that survive 100 TB):
  *  - the k-means fit runs on a bounded SAMPLE (`fitSampleRows`), never
  *    the full corpus — an iterative multi-pass fit over everything would
  *    be the index build's scale-killer; centroid quality needs thousands
  *    of points per list, not billions. The full corpus is touched exactly
  *    once, by the single-pass assignment.
  *  - the probe join broadcasts the PROBES (nQueries × nprobe rows — tiny
  *    by construction) against the assigned corpus, so the corpus never
  *    shuffles; the hint is applied directly at the join, not upstream of
  *    the probe-selection window (where an exchange would kill it). A
  *    16-value `list_id` key would otherwise be hot-key skew by
  *    construction.
  *  - [[writeIndex]]/[[readIndex]] persist the assigned corpus PARTITIONED
  *    BY list_id: a probe's scan then prunes to its lists' files at the
  *    source (PartitionFilters), which is the standard IVF layout —
  *    asserted in IvfSpec.
  *
  * The q28 entry gates via in-engine tolerance booleans (q26 pattern):
  * recall@k against the exact KNN computed from the same frame, with the
  * DuckDB oracle emitting the anchors + literal TRUE — k-means itself is
  * iterative floating-point and not SQL-mirrorable, but the recall check
  * is.
  */
object Ivf {

  final case class Index(model: KMeansModel, assigned: DataFrame)

  /** Fit nlist centroids on a bounded sample and assign every vector to
    * its list in one pass. `fitSampleRows` caps the fit set: the sample
    * fraction is computed from one cheap count (the projection prunes to
    * a metadata-ish scan) with a 1.2× overshoot so the expected sample
    * stays above the cap's intent even on the fraction's variance. */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            nlist: Int, seed: Long = 42L,
            fitSampleRows: Int = 100000): Index = {
    val feat = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("features", array_to_vector(col("v")))
    val n = feat.count()
    val frac = math.min(1.0, fitSampleRows.toDouble * 1.2 / math.max(n, 1L))
    val fitSet =
      if (frac >= 1.0) feat
      else feat.sample(withReplacement = false, frac, seed)
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("list_id")
      .fit(fitSet)
    val assigned = model.transform(feat).drop("features")
      .withColumn("nrm", norm(col("v")))
    Index(model, assigned)
  }

  // ---- the on-disk layout: a commit-log partition manifest -------------
  //
  // The index lives as IMMUTABLE `g-<tok>/list_id=N/` generation dirs
  // plus `_commits/<seq>` files mapping each list to its dirs (several
  // after appends; one after a rewrite) and carrying the drift-baseline
  // pointer ([[graft.sinks.DirManifest]]). Every mutation — build,
  // nightly ingest, localized refit, full refit, compaction — writes new
  // dirs and publishes ONE commit-file create: no renames anywhere
  // (object-store-safe), atomic across ALL touched lists AND the
  // baseline (the per-directory swap this replaced was atomic per list
  // only, and a crash between its delete and rename could lose a list's
  // rows outright), and loud under concurrent writers via the commit
  // log's CAS. Probe/ingest reads prune at the METADATA level: only the
  // probed lists' mapped dirs are ever listed.

  private def tok(): String = java.util.UUID.randomUUID().toString.take(8)

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fail LOUDLY on the retired rename-swap layout (root-level
    * `list_id=` dirs, `.__refit_bak` siblings) instead of silently
    * reading it as absent — the [[graft.sinks.LedgeredState]]
    * legacy-check precedent: migration is one deliberate re-commit of
    * the old dirs, never an implicit restart-from-empty mid-ingest. */
  private def legacyLayoutCheck(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path + ".__refit_bak")
    val legacyDirs = fs.exists(root) && fs.listStatus(root).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("list_id="))
    if (fs.exists(bak) || legacyDirs)
      throw new IllegalStateException(
        s"legacy rename-swap IVF layout detected at $path (root-level " +
          "list_id= dirs or a .__refit_bak sibling); expected " +
          "_commits/ + g-*/ generations. Refusing to proceed — migrate " +
          "by rewriting the old layout through writeIndex.")
  }

  private def headState(spark: SparkSession,
                        path: String): Option[(Long, graft.sinks.DirManifest.DmState)] = {
    legacyLayoutCheck(spark, path)
    graft.sinks.DirManifest.head(fsOf(spark, path),
      new org.apache.hadoop.fs.Path(path))
  }

  private def requireHead(spark: SparkSession,
                          path: String): (Long, graft.sinks.DirManifest.DmState) =
    headState(spark, path).getOrElse(throw new IllegalArgumentException(
      s"no committed IVF index at $path — writeIndex first"))

  /** Persist the assigned corpus as the manifest layout — one generation
    * dir partitioned by list_id plus one commit: a probe reads only its
    * lists' mapped dirs, so query cost is bounded by list size, not
    * corpus size. At 100 TB this write is the one-time index build cost.
    * Re-writing an existing index replaces its whole mapping (the drift
    * baseline pointer drops with it — a stale baseline would mis-measure
    * the new layout; call [[snapshotListMeans]] after). The generation
    * is written once: a lost CAS re-reads the head and re-appends (the
    * payload does not depend on the head), and the generation is deleted
    * only when [[CommitLog.retrying]] gives up. */
  def writeIndex(index: Index, path: String): Unit = {
    val spark = index.assigned.sparkSession
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    legacyLayoutCheck(spark, path)
    val gen = s"g-${tok()}"
    // hash-distribute by list before every partitioned index write
    // (guide §6; same rule as ManifestMergeSink's bucket writes): the
    // assignment leaves rows partitioned by their SOURCE layout, so each
    // write task would spray one small file into most lists —
    // tasks × nlist files whose open/footer cost every probe re-pays;
    // distributed, a list's rows land in one file per generation
    index.assigned.repartition(col("list_id")).write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$path/$gen")
    val parts = graft.sinks.DirManifest
      .writtenParts(fs, root, gen, "list_id")
      .map { case (l, d) => l -> Seq(d) }.toMap
    CommitLog.onConflict(
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$gen"), true)) {
      CommitLog.retrying {
        graft.sinks.DirManifest.commitCas(fs, root,
          headState(spark, path).map(_._1).getOrElse(0L),
          graft.sinks.DirManifest.DmState(parts))
      }
    }
  }

  /** The committed index as a frame, list_id reconstructed through
    * per-generation partition discovery, pruned to `lists` when given
    * (metadata-level pruning: unprobed lists' dirs are never listed).
    * Probing a list the mapping does not carry returns None for an
    * all-unmapped selection — the caller decides what absence means. */
  def readIndexLists(spark: SparkSession, path: String,
                     lists: Option[Seq[Int]]): Option[DataFrame] = {
    val (_, st) = requireHead(spark, path)
    val sel = lists.map(_.map(_.toLong).filter(st.parts.contains))
    if (sel.exists(_.isEmpty)) None
    else Some(graft.sinks.DirManifest.read(spark, path, st, sel))
  }

  /** The whole committed index as a frame. */
  def readIndexFrame(spark: SparkSession, path: String): DataFrame =
    readIndexLists(spark, path, None).get

  /** Reopen a written index. Filters on list_id still prune partitions
    * at the parquet source (asserted in IvfSpec); list-probe paths
    * prune harder, at the mapping ([[readIndexLists]]). */
  def readIndex(spark: SparkSession, model: KMeansModel, path: String): Index =
    Index(model, readIndexFrame(spark, path))

  /** The head mapping (list → its generation dirs) — for gates/specs
    * pinning layout properties (untouched lists keep their EXACT dirs). */
  def mappingOf(spark: SparkSession, path: String): Map[Int, Seq[String]] =
    requireHead(spark, path)._2.parts.map { case (l, ds) => (l.toInt, ds) }

  /** Per-list file fingerprints (root-relative path, length) across each
    * list's mapped dirs — the byte-identity probe the untouched-lists
    * contracts pin (dirs are immutable, so equal fingerprints ⇒ equal
    * bytes). */
  def listDirFingerprints(spark: SparkSession,
                          path: String): Map[Int, Set[(String, Long)]] = {
    val fs = fsOf(spark, path)
    mappingOf(spark, path).map { case (l, dirs) =>
      l -> dirs.flatMap { d =>
        val p = new org.apache.hadoop.fs.Path(s"$path/$d")
        if (!fs.exists(p)) Seq.empty
        else fs.listStatus(p).filter(_.isFile)
          .map(f => (s"$d/${f.getPath.getName}", f.getLen)).toSeq
      }.toSet
    }
  }

  /** Top-k cosine neighbors per query, probing the `nprobe` nearest
    * lists. Output matches q22's shape (q_id, neighbor_id, cos_sim, rnk). */
  def topK(spark: SparkSession, index: Index, queries: DataFrame,
           k: Int, nprobe: Int): DataFrame =
    topKWithCentroids(spark, index.assigned, centroidsOf(index.model),
      queries, k, nprobe)

  /** A model's centroids in the plain (list_id, center) form the
    * centroid-parameterized paths take ([[refitLocalized]] refreshes
    * centers without a KMeansModel to hold them — MLlib's model has no
    * public constructor from raw centers, and needing one would force a
    * full re-fit just to package a local refresh). */
  def centroidsOf(model: KMeansModel): Seq[(Int, Array[Double])] =
    model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }.toSeq

  /** [[topK]] with explicit centroids — the probe path shared by the
    * model-backed index and a [[refitLocalized]]-refreshed one. */
  def topKWithCentroids(spark: SparkSession, assigned: DataFrame,
                        centers: Seq[(Int, Array[Double])],
                        queries: DataFrame,
                        k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    val centroids = centers.toDF("list_id", "centroid")
    val q = queries.select(col("id").as("q_id"), col("v").as("qv"))
      .withColumn("qn", norm(col("qv")))
    // probe selection: small q × small centroid table — both broadcastable.
    // list_id tie-break: a distance tie must rank deterministically, or
    // the nprobe-P probed set is not necessarily a subset of the
    // nprobe-P' (P' > P) set — the monotonicity q156's curve certifies
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("cdist").asc, col("list_id").asc)
    val probes = broadcast(q).crossJoin(broadcast(centroids))
      .withColumn("cdist", -dot(col("qv"), col("centroid"))) // max cosine ≈ min -dot (unit-ish data)
      .withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"), col("list_id"))
    // scan only the probed lists: broadcast the (tiny) probes AT the join —
    // an upstream hint would die at the window's exchange, and the corpus
    // would shuffle on a 16-value key
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes), "list_id")
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("neighbor_id"),
        round(cosineWithNorms(col("qv"), col("qn"), col("v"), col("nrm")), 4)
          .as("cos_sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** QUANTIZER REFIT — the rebuild q89's drift monitor schedules: when
    * ingest has drifted the corpus away from the day-1 centroids and
    * recall falls through the band, fit a NEW coarse quantizer on the
    * CURRENT corpus (bounded sample, the [[build]] discipline),
    * re-lay every stored row under its new list in one pass, re-derive
    * the drift baseline from the new layout, and publish layout AND
    * baseline in ONE commit — atomic together, rename-free (the
    * two-rename swap this replaced had a crash window between its
    * renames, and its baseline refresh was a separate write). A crash
    * anywhere leaves the previous commit authoritative plus orphan
    * dirs [[vacuumIndex]] sweeps; a concurrent committer forces a loud
    * re-run. Everything except `list_id` is carried through untouched —
    * vectors, norms, and the sketch column of a [[writeIndexSketched]]
    * layout all survive, so both access paths keep working without
    * recomputation.
    *
    * This is the full-rebuild member of the IVF maintenance pair:
    * [[ingest]] is the nightly append that NEVER refits (a fixed
    * quantizer is what makes its anti-join pruning and re-delivery
    * dedup deterministic); refit is the measured, occasional rebuild —
    * one corpus-sized read + write, the same cost class as the index's
    * original build, scheduled by evidence (q89) instead of calendars.
    * Returns the new model (callers persist it however they persist the
    * original build's). */
  def refit(spark: SparkSession, path: String, nlist: Int, seed: Long = 42L,
            fitSampleRows: Int = 100000): KMeansModel = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    CommitLog.retrying {
      val (seq, _) = requireHead(spark, path)
      val cur = readIndexFrame(spark, path).drop("list_id")
      val feat = cur.withColumn("features", array_to_vector(col("v")))
      val n = feat.count()
      val frac = math.min(1.0, fitSampleRows.toDouble * 1.2 / math.max(n, 1L))
      val fitSet =
        if (frac >= 1.0) feat
        else feat.sample(withReplacement = false, frac, seed)
      val model = new KMeans().setK(nlist).setSeed(seed)
        .setFeaturesCol("features").setPredictionCol("list_id")
        .fit(fitSet)
      val assigned = model.transform(feat).drop("features")
      val gen = s"g-${tok()}"
      assigned.repartition(col("list_id")).write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$path/$gen")
      val parts = graft.sinks.DirManifest
        .writtenParts(fs, root, gen, "list_id")
        .map { case (l, d) => l -> Seq(d) }.toMap
      // the baseline the NIGHTLY tool ([[refitLocalized]]) measures
      // against must describe THIS rebuild — derived from the written
      // generation (one nlist×dim mean pass, noise next to the rebuild)
      // and committed atomically with it
      val meansDir = s"m-${tok()}"
      listMeansFrame(graft.sinks.DirManifest.read(spark, path,
          graft.sinks.DirManifest.DmState(parts)))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/$meansDir")
      // a lost slot: a concurrent ingest landed rows this rebuild never
      // saw — the whole derivation is stale; discard and re-run
      CommitLog.onConflict {
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$gen"), true)
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$meansDir"), true)
      } {
        graft.sinks.DirManifest.commitCas(fs, root, seq,
          graft.sinks.DirManifest.DmState(parts, Map("means" -> meansDir)))
      }
      model
    }
  }

  /** The per-list mean frame (list_id, pos, m): one narrow pass with
    * map-side partials; the shuffle carries nlist×dim tiny rows. */
  private def listMeansFrame(idx: DataFrame): DataFrame =
    idx.select(col("list_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("list_id"), col("pos")).agg(avg(col("x")).as("m"))

  private def collectMeans(df: DataFrame): Map[Int, Array[Double]] =
    df.collect() // ≤ nlist×dim tiny rows — driver-safe by construction
      .groupBy(_.getInt(0))
      .map { case (l, rows) =>
        val arr = new Array[Double](rows.length)
        rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
        l -> arr
      }

  /** Whether the index carries a committed drift baseline. */
  def hasMeansBaseline(spark: SparkSession, path: String): Boolean =
    requireHead(spark, path)._2.extra.contains("means")

  /** Record the CURRENT per-list means as the drift baseline — a new
    * `m-<tok>` dir repointed by one metadata commit (the pointer rides
    * the same commit log as the layout, so baseline and layout can
    * never be seen torn). Call at build time; [[refit]] and
    * [[refitLocalized]] maintain it atomically with their layout
    * commits. [[refitLocalized]] measures displacement against THIS
    * snapshot — against the fitted centroid it would be polluted by
    * the centroid-vs-mean gap any sampled, tolerance-terminated
    * k-means leaves even with zero drift. Like [[writeIndex]] the dir is
    * written once: a lost CAS re-reads the head and re-points, and the
    * dir is deleted only when [[CommitLog.retrying]] gives up. */
  def snapshotListMeans(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val meansDir = s"m-${tok()}"
    listMeansFrame(readIndexFrame(spark, path))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/$meansDir")
    CommitLog.onConflict(
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$meansDir"), true)) {
      CommitLog.retrying {
        val (seq, st) = requireHead(spark, path)
        graft.sinks.DirManifest.commitCas(fs, root, seq,
          st.copy(extra = st.extra + ("means" -> meansDir)))
      }
    }
  }

  /** DRIFT-LOCALIZED REFIT — the bounded sibling of [[refit]]: instead
    * of refitting the quantizer and rewriting the WHOLE index (one
    * corpus-sized read+write — the most expensive maintenance op in
    * the repo at 100 TB), refresh ONLY the lists whose data actually
    * moved:
    *
    *  1. per-list displacement = L2(current mean, baseline mean at the
    *     last snapshot) — an undrifted list measures ~0 by
    *     construction (same rows ⇒ same mean, modulo fp summation
    *     noise ~1e-13, far under any meaningful ε);
    *  2. lists with displacement > ε are DRIFTED: their centroid is
    *     replaced by the current list mean (one localized Lloyd step —
    *     the k-means update restricted to the moved region);
    *  3. only drifted lists' rows re-assign, and only among the
    *     drifted lists' refreshed centers (partition-constrained
    *     reassignment): undrifted list dirs are never read, written,
    *     or repointed — byte-identical, the q165 flagged-files-only
    *     pattern applied to the index. The constraint trades a vector
    *     whose true nearest is an undrifted centroid (it stays local);
    *     the gate certifies recall stays above the [[refit]] band, and
    *     a drift that DOES spill across the boundary is what schedules
    *     the occasional full [[refit]] (q89 → q168) — this is the
    *     nightly tool, not the quarterly one;
    *  4. the drifted lists' new dirs (each list collapses to ONE dir —
    *     its append history compacts as a side effect) and the
    *     refreshed baseline publish in ONE commit: atomic across all
    *     drifted lists AND the baseline, no crash window in which a
    *     list's rows are lost (the per-directory delete+rename this
    *     replaced could lose a list outright between its two steps,
    *     and the re-run would NOT converge — the vanished list never
    *     measures drifted again), loud under a concurrent committer
    *     (re-measured and re-run from the new head).
    *
    * Cost ∝ drifted-region bytes + one mean pass, never corpus size.
    * Returns the refreshed centers and the drifted list ids. */
  def refitLocalized(spark: SparkSession, path: String,
                     centers: Seq[(Int, Array[Double])],
                     epsilon: Double): (Seq[(Int, Array[Double])], Seq[Int]) = {
    import spark.implicits._
    require(epsilon > 0.0, s"epsilon=$epsilon")
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    CommitLog.retrying {
      val (seq, st) = requireHead(spark, path)
      val meansDir0 = st.extra.getOrElse("means",
        throw new IllegalStateException(
          s"no committed drift baseline at $path — call snapshotListMeans " +
            "when the index is built (refit maintains it)"))
      val baseline = collectMeans(Parquets.read(spark, s"$path/$meansDir0"))
      val idx = graft.sinks.DirManifest.read(spark, path, st)
      val current = collectMeans(listMeansFrame(idx))
      def l2(a: Array[Double], b: Array[Double]): Double =
        math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      val drifted = current.keys.toSeq.sorted.filter { l =>
        baseline.get(l).forall(b => l2(current(l), b) > epsilon)
      }
      if (drifted.isEmpty) (centers, Seq.empty)
      else {
        val newCenters = centers.map { case (l, c) =>
          l -> (if (drifted.contains(l)) current(l) else c)
        }
        // re-assign the drifted region among the refreshed drifted centers:
        // a tiny broadcast centroid table × the mapping-pruned drifted scan
        val dc = drifted.map(l => (l, current(l))).toDF("new_list", "c")
          .withColumn("cn2", dot(col("c"), col("c")))
        val rowsD = graft.sinks.DirManifest.read(spark, path, st,
            Some(drifted.map(_.toLong)))
          .drop("list_id")
        val w = Window.partitionBy(col("id"))
          .orderBy(col("d2").asc, col("new_list").asc) // deterministic ties
        val reassigned = rowsD.crossJoin(broadcast(dc))
          // argmin ||v - c||² ≡ argmin (|c|² - 2 v·c) — |v|² is constant per row
          .withColumn("d2", col("cn2") - lit(2.0) * dot(col("v"), col("c")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .drop("d2", "rn", "c", "cn2")
          .withColumnRenamed("new_list", "list_id")
        val gen = s"g-${tok()}"
        reassigned.repartition(col("list_id")).write.mode("overwrite").partitionBy("list_id")
          .parquet(s"$path/$gen")
        val written = graft.sinks.DirManifest
          .writtenParts(fs, root, gen, "list_id").toMap
        // drifted lists repoint to their single new dir; a drifted list
        // whose rows all re-assigned elsewhere leaves the mapping
        val newParts = (st.parts -- drifted.map(_.toLong)) ++
          drifted.map(_.toLong).collect {
            case l if written.contains(l) => l -> Seq(written(l))
          }
        // refresh the baseline for the drifted lists only (undrifted lists
        // carry their existing baseline forward — no corpus-sized pass;
        // the drifted re-read is pruned to exactly the new dirs)
        val keptBaseline = baseline.toSeq
          .filter(e => current.contains(e._1) && !drifted.contains(e._1))
          .flatMap { case (l, arr) =>
            arr.zipWithIndex.map { case (m, p) => (l, p, m) }
          }
          .toDF("list_id", "pos", "m")
        val refreshed =
          if (written.isEmpty) keptBaseline
          else keptBaseline.unionByName(listMeansFrame(
            Parquets.read(spark, written.values.map(d => s"$path/$d").toSeq,
              Map("basePath" -> s"$path/$gen"))))
        val meansDir = s"m-${tok()}"
        refreshed.coalesce(1).write.mode("overwrite")
          .parquet(s"$path/$meansDir")
        // a lost slot: a concurrent commit moved the corpus under the
        // measurement — discard this round's dirs and re-measure from the
        // new head
        CommitLog.onConflict {
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/$gen"), true)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/$meansDir"), true)
        } {
          graft.sinks.DirManifest.commitCas(fs, root, seq,
            graft.sinks.DirManifest.DmState(newParts,
              st.extra + ("means" -> meansDir)))
        }
        (newCenters, drifted)
      }
    }
  }

  /** Sweep generations/baselines no retained commit references —
    * [[graft.sinks.DirManifest.vacuum]] with the index's dir prefixes. */
  def vacuumIndex(spark: SparkSession, path: String,
                  retainCommits: Int = 2): Seq[String] =
    graft.sinks.DirManifest.vacuum(spark, path, retainCommits)

  /** Incrementally ingest a batch of vectors into a written IVF index —
    * the nightly-embedding analog of q65/q68's snapshot-state story.
    * The coarse quantizer is FIXED (the model fit at index-build time):
    * assignment is then deterministic, so a re-delivered vector lands in
    * its ORIGINAL list, and the at-least-once dedup probe can prune its
    * index read to the batch's own lists — the anti-join never scans
    * lists the batch doesn't touch. Steps:
    *
    *  1. drop within-batch re-deliveries (`dropDuplicates(id)`);
    *  2. assign the batch with the fixed model (one narrow pass);
    *  3. anti-join against the index ON THE BATCH'S LISTS ONLY
    *     (partition-pruned parquet read — pinned in IvfSpec);
    *  4. append the fresh rows, partitioned by list_id.
    *
    * Refitting centroids nightly would invalidate every stored
    * assignment (a full index rebuild); the fixed-quantizer trade is the
    * standard IVF maintenance discipline — rebuild only when drift
    * degrades recall, measured, not per batch.
    *
    * Scale: per-batch cost is one assignment pass over the batch + one
    * pruned anti-join; the corpus-sized index is only ever APPENDED to
    * (a new generation dir per batch; [[graft.sinks.DirManifest.compact]] keeps file
    * counts flat). Concurrency: the anti-join is derived against
    * exactly the head the publish CAS-checks, and a conflict re-derives
    * from the winner's head — two racing ingests can never land the
    * same id twice or lose each other's rows (the q209 discipline;
    * `beforePublish` is the spec/gate seam). Returns the number of
    * fresh rows ingested. */
  def ingest(spark: SparkSession, path: String, model: KMeansModel,
             batch: DataFrame, idCol: String, vecCol: String,
             planes: Option[Array[Array[Double]]] = None,
             beforePublish: () => Unit = () => ()): Long = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    // LAYOUT-CONSISTENCY guard: a [[writeIndexSketched]] index carries
    // the `sk` column, and appending sketch-less rows would leave mixed
    // footers whose schema lottery silently degrades (or breaks) the
    // q167 sketch path — every appended row must carry the sketch, so
    // the caller must supply the SAME planes the index was built with.
    // Conversely, sketching rows into a plain index would mix the other
    // way. Fail loudly either way; schema drift in a persistent index
    // is an operator error, never something to paper over.
    val hasSk = readIndexFrame(spark, path).columns.contains("sk")
    require(hasSk == planes.isDefined,
      if (hasSk) "index carries a sketch column — pass the build-time planes " +
        "so appended rows stay sketch-complete"
      else "index has no sketch column — sketch planes were passed; " +
        "build the layout with writeIndexSketched first")
    val feat = batch.select(col(idCol).as("id"), col(vecCol).as("v"))
      .dropDuplicates("id")
      .withColumn("features", array_to_vector(col("v")))
    val assigned0 = model.transform(feat).drop("features")
      .withColumn("nrm", norm(col("v")))
    val assigned = planes.fold(assigned0)(pl =>
        assigned0.withColumn("sk", srpSketch(col("v"), pl)))
      .localCheckpoint(true) // referenced by the list probe AND the
                             // anti-join — one assignment pass, not two
    // <= nlist small ints: driver-safe by construction; the mapping
    // prunes the index read to exactly these lists' dirs
    val touched = assigned.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    var hookPending = true
    CommitLog.retrying {
      val (seq, st) = requireHead(spark, path)
      // anti-join against THIS head's touched lists (a fixed quantizer
      // sends a re-delivered id back to its original list, so no match
      // can hide in an unread list — the q73 argument)
      val fresh = readIndexLists(spark, path, Some(touched)) match {
        case Some(existing) =>
          assigned.join(existing.select(col("id")), Seq("id"), "left_anti")
            .localCheckpoint(true) // counted AND written below
        case None => assigned
      }
      val nFresh = fresh.count()
      val gen = s"g-${tok()}"
      if (nFresh > 0)
        fresh.repartition(col("list_id")).write.mode("overwrite").partitionBy("list_id")
          .parquet(s"$path/$gen")
      if (hookPending) { hookPending = false; beforePublish() }
      if (nFresh > 0) {
        val written = graft.sinks.DirManifest
          .writtenParts(fs, root, gen, "list_id")
        val newParts = st.parts ++ written.map { case (l, d) =>
          l -> (st.parts.getOrElse(l, Seq.empty) :+ d)
        }
        // a lost slot: a concurrent writer committed first and may have
        // landed some of our ids, so this batch's anti-join may be stale —
        // discard the generation and re-derive from the new head
        CommitLog.onConflict(
            fs.delete(new org.apache.hadoop.fs.Path(s"$path/$gen"), true)) {
          graft.sinks.DirManifest.commitCas(fs, root, seq,
            graft.sinks.DirManifest.DmState(newParts, st.extra))
        }
      }
      nFresh // 0 on a full re-delivery: nothing to publish
    }
  }

  private val K = 10
  private val NQueries = 10
  private val Nlist = 16
  private val Nprobe = 4
  /** Gate bound for MICRO-AVERAGED recall@10 (total hits / total exact) at
    * nprobe=4/nlist=16. Per-query recall on the fixture swings 0.1–0.9
    * with k-means luck, but the mean is stable (measured 0.55 at sf0.001,
    * 0.47 at sf0.01) — the bound's 2× margin makes the hash gate fail on
    * broken probing, not centroid placement. */
  private val MinRecall = 0.25

  /** q28: IVF top-10 for the same query set as q22 (vec_id < 10),
    * nlist=16, nprobe=4 — scans ~¼ of the corpus per query. Emits one
    * tolerance-boolean row (q26 pattern): oracle-computable anchors
    * (`n_queries`, `n_exact_total` = queries × exact-KNN result size) plus
    * `recall_ok` — in-engine micro-averaged recall@10 vs the exact KNN
    * computed from the same frame >= MinRecall.
    *
    * The gate routes through the ON-DISK index: [[writeIndex]] to a
    * scratch dir, [[readIndex]], probe the REOPENED frame — so the
    * driver's gate exercises the partition-pruned parquet read path
    * (PartitionFilters on list_id, pinned in IvfSpec), which is what a
    * 100 TB deployment queries, not the in-memory assignment. The gate
    * row is materialized eagerly before the scratch index is deleted. */
  def q28IvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    // 20k-row fit cap: ~1250 points per list at nlist=16 — ample for
    // centroid quality, and small enough that the sampled-fit path is
    // exercised at bench scale (sf0.1 ≈ 50k vectors), not just at 100 TB
    val index = build(emb, "id", "v", nlist = Nlist, fitSampleRows = 20000)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_ivf_idx")
    try {
      writeIndex(index, idxPath.toString)
      val reopened = readIndex(spark, index.model, idxPath.toString)
      val ivf = topK(spark, reopened, emb.filter(col("id") < NQueries),
          k = K, nprobe = Nprobe)
        .select(col("q_id"), col("neighbor_id")).withColumn("hit", lit(1))
      val exact = SimilarityQueries.q22KnnExact(spark, dir)
        .select(col("q_id"), col("neighbor_id"))
      exact.join(ivf, Seq("q_id", "neighbor_id"), "left")
        .agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_exact_total"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("n_queries"), col("n_exact_total"),
          (col("n_hit") >= col("n_exact_total") * MinRecall).as("recall_ok"))
        .localCheckpoint(true) // the plan reads the scratch index — run it
                               // before the finally below deletes the files
    } finally {
      val p = new org.apache.hadoop.fs.Path(idxPath.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Oracle: the exact-KNN result sizes (least(k, corpus-1) per query) +
    * literal TRUE — the hash gate then fails exactly when IVF recall
    * leaves its band. */
  val q28IvfAnnSql: String =
    s"""SELECT count(*)::BIGINT AS n_queries,
       |  (count(*) * least($K, (SELECT count(*) FROM embeddings) - 1))::BIGINT
       |    AS n_exact_total,
       |  TRUE AS recall_ok
       |FROM embeddings WHERE vec_id < $NQueries""".stripMargin

  /** q71: INCREMENTAL IVF index ingest — q65/q68's day-split +
    * re-delivery harness applied to the embedding index. Day 1 builds
    * the index (fit + write); day 2 arrives with every 5th vector of the
    * whole corpus RE-DELIVERED (at-least-once upstream) and ingests via
    * [[ingest]]'s pruned anti-join. The gate then compares the reopened
    * incremental index row-for-row against a batch assignment of the
    * full corpus under the SAME model: `contents_match` is true iff
    * every (id, v, list_id) agrees and neither side has extras — exact
    * equality, not a recall band, because a fixed quantizer makes
    * incremental assignment deterministic (the property the design
    * buys). Anchors follow the q28/q50 pattern: `n_vectors` is
    * oracle-computable, the boolean fails the hash on any defect. */
  def q71IvfIngest(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    // gate-harness split probe (one scalar), not operator code — a real
    // ingest receives its batches (q65/q68 precedent)
    val cut = emb.agg(max(col("id"))).head().getLong(0) / 2
    val day1 = emb.filter(col("id") <= cut)
    val day2 = emb.filter(col("id") > cut)
      .union(emb.filter(col("id") % 5 === 0)) // re-delivery
    val idxPath = java.nio.file.Files.createTempDirectory("graft_q71_idx")
    try {
      val built = build(day1, "id", "v", nlist = Nlist, fitSampleRows = 20000)
      writeIndex(built, idxPath.toString)
      ingest(spark, idxPath.toString, built.model, day2, "id", "v")
      val incr = readIndexFrame(spark, idxPath.toString)
        .select(col("id"), col("v"), col("list_id"))
      val batchAssign = built.model.transform(
          emb.withColumn("features", array_to_vector(col("v"))))
        .select(col("id").as("b_id"), col("v").as("b_v"),
          col("list_id").as("b_list"))
      // full outer join: missing rows, extra rows, duplicate ids (row
      // count inflates past n_vectors), changed vectors, and changed
      // assignments ALL break an anchor or the boolean
      incr.join(batchAssign, incr("id") === col("b_id"), "full_outer")
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(incr("id").isNull || col("b_id").isNull ||
            incr("list_id") =!= col("b_list") ||
            incr("v") =!= col("b_v"), 1).otherwise(0)).as("n_bad"))
        .select(col("n_vectors"), (col("n_bad") === 0).as("contents_match"))
        .localCheckpoint(true) // materialize before the scratch dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(idxPath.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q71IvfIngestSql: String =
    """SELECT count(*)::BIGINT AS n_vectors, TRUE AS contents_match
      |FROM embeddings""".stripMargin

  /** q89: POST-INGEST recall monitor — the index-health check a nightly
    * embedding pipeline runs after every [[ingest]]: probe the
    * incrementally-grown index with the q22 query set and gate
    * micro-averaged recall@10 against the exact KNN of the SAME corpus.
    * q71 proves the incremental index holds the right ROWS; this gates
    * that it still ANSWERS — a quantizer fit on day 1 must keep serving
    * day 2's vectors (deterministic assignment guarantees placement,
    * not balance: if day 2 drifted away from day 1's centroids, probes
    * would miss and recall would fall through the band). Same bound
    * discipline as q28 ([[MinRecall]], 2× margin below measured) so the
    * gate fails on broken probing/ingest, not centroid luck. At 100 TB
    * this is the drift signal that schedules a quantizer re-fit. */
  def q89IngestRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val cut = emb.agg(max(col("id"))).head().getLong(0) / 2
    val day1 = emb.filter(col("id") <= cut)
    val day2 = emb.filter(col("id") > cut)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_q89_idx")
    try {
      val built = build(day1, "id", "v", nlist = Nlist, fitSampleRows = 20000)
      writeIndex(built, idxPath.toString)
      ingest(spark, idxPath.toString, built.model, day2, "id", "v")
      val grown = readIndex(spark, built.model, idxPath.toString)
      val ivf = topK(spark, grown, emb.filter(col("id") < NQueries),
          k = K, nprobe = Nprobe)
        .select(col("q_id"), col("neighbor_id")).withColumn("hit", lit(1))
      val exact = SimilarityQueries.q22KnnExact(spark, dir)
        .select(col("q_id"), col("neighbor_id"))
      exact.join(ivf, Seq("q_id", "neighbor_id"), "left")
        .agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_exact_total"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("n_queries"), col("n_exact_total"),
          (col("n_hit") >= col("n_exact_total") * MinRecall).as("recall_ok"))
        .localCheckpoint(true) // materialize before the scratch dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(idxPath.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q89IngestRecallSql: String = q28IvfAnnSql

  // q156 parameters: the probe ladder and the high-recall regime bound.
  private val CurveProbes = Seq(1, 2, 4, 8, 12, 14, Nlist)
  private val HiRecallProbe = 14
  private val HiRecall = 0.95

  /** q156: the HIGH-RECALL REGIME certification — the recall-vs-nprobe
    * CURVE of the on-disk IVF index against the exact KNN, one row per
    * probe width. SRP-LSH (q23) and single-width IVF (q28) cover the
    * throughput regime; retrieval evaluation wants recall ≥ 0.95, and
    * on an IVF index that regime is reached by WIDENING the probe — so
    * the operative guarantees are the ones this gate pins:
    *
    *  - `monotone_ok`: hits never DECREASE as nprobe grows. Provable,
    *    not statistical: the probe ranking is total (distance with
    *    list_id tie-break), so the nprobe-P list set is a prefix of the
    *    nprobe-P' set for P' > P, and recall can only gain candidates.
    *  - `hi_recall_ok`: at [[HiRecallProbe]] of [[Nlist]] lists and
    *    above, micro-averaged recall@[[K]] ≥ [[HiRecall]] (vacuously
    *    TRUE below the regime). Measured curve on the gate fixture:
    *    0.18/0.27/0.47/0.79/0.95/0.99/1.00 at probes 1/2/4/8/12/14/16
    *    — the fixture's weak cluster structure (max pairwise cosine
    *    ≈ 0.5, SimilarityQueries scaladoc) makes this a WORST case for
    *    a coarse quantizer, so the regime bound sits at nprobe = 14
    *    where the measured 0.99 gives the q28 margin discipline; on a
    *    clustered real corpus the same bound is reached far earlier.
    *  - `full_exact_ok` on the nprobe = nlist row: probing EVERY list
    *    IS brute force — the curve's endpoint equals the exact KNN
    *    row-for-row (same rounded cosine, same tie-break), determinism
    *    rather than a band.
    *
    * At 100 TB the curve is the tuning artifact: each row's query cost
    * is proportional to nprobe/nlist of the corpus (file-pruned list
    * reads — the writeIndex layout), and the recall column tells you
    * what that fraction buys. */
  def q156IvfRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val index = build(emb, "id", "v", nlist = Nlist, fitSampleRows = 20000)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_q156_idx")
    try {
      writeIndex(index, idxPath.toString)
      val reopened = readIndex(spark, index.model, idxPath.toString)
      val queries = emb.filter(col("id") < NQueries)
      val exact = SimilarityQueries.q22KnnExact(spark, dir)
        .select(col("q_id"), col("neighbor_id"), col("cos_sim"))
        .localCheckpoint(true) // joined against every curve point
      val points = CurveProbes.map { p =>
        val ivf = topK(spark, reopened, queries, k = K, nprobe = p)
          .select(col("q_id"), col("neighbor_id"),
            col("cos_sim").as("ivf_sim"))
        exact.join(ivf, Seq("q_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_exact_total"),
            sum(when(col("ivf_sim").isNotNull, 1L).otherwise(0L)).as("n_hit"),
            sum(when(col("ivf_sim") === col("cos_sim"), 1L).otherwise(0L))
              .as("n_same_sim"))
          .select(lit(p.toLong).as("nprobe"), col("n_exact_total"),
            col("n_hit"), col("n_same_sim"))
      }.reduce(_ unionByName _)
      val w = Window.orderBy(col("nprobe"))
      points
        .withColumn("prev_hit", lag(col("n_hit"), 1).over(w))
        .select(col("nprobe"), col("n_exact_total"),
          (col("prev_hit").isNull || col("n_hit") >= col("prev_hit"))
            .as("monotone_ok"),
          (col("nprobe") < HiRecallProbe ||
            col("n_hit") >= col("n_exact_total") * HiRecall).as("hi_recall_ok"),
          (col("nprobe") < Nlist ||
            (col("n_hit") === col("n_exact_total") &&
             col("n_same_sim") === col("n_exact_total"))).as("full_exact_ok"))
        .orderBy(col("nprobe"))
        .localCheckpoint(true) // materialize before the scratch index dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(idxPath.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Oracle: the probe ladder with the exact-KNN anchor + literal TRUEs
    * (the q28 pattern — k-means is not SQL-mirrorable; the curve
    * properties are). */
  val q156IvfRecallCurveSql: String = {
    val probes = CurveProbes.mkString("(", "), (", ")")
    s"""WITH p(nprobe) AS (VALUES $probes)
       |SELECT nprobe::BIGINT AS nprobe,
       |  ((SELECT count(*) FROM embeddings WHERE vec_id < $NQueries)
       |    * least($K, (SELECT count(*) FROM embeddings) - 1))::BIGINT
       |    AS n_exact_total,
       |  TRUE AS monotone_ok, TRUE AS hi_recall_ok, TRUE AS full_exact_ok
       |FROM p ORDER BY nprobe""".stripMargin
  }

  // ---- quantized pre-filter + exact re-rank (the high-recall path) ----

  /** 256-bit sketch = 4 longs; 32 bytes beside a 256-byte float32[64]
    * vector — the 1:8 ratio the cost accounting below is built on. */
  private[operators] val SkWords = 4

  /** Deterministic sketch hyperplanes (own seed — the sketch access path
    * is independent of the SRP-LSH pair family's 42-seeded planes). */
  def sketchPlanes(dim: Int): Array[Array[Double]] =
    graft.functions.VectorFunctions.srpPlanes(SkWords * 64, dim, seed = 7L)

  /** The packed SRP sketch: bit j of word w = sign of the dot against
    * plane w·64+j — the native one-pass expression
    * ([[graft.expressions.SrpSketch]]; the composed 256-dot column form
    * below blew the JIT budget and ran interpreted). Build-time cost:
    * ~16k fused multiply-adds per vector, paid once at index write,
    * which is what buys every later query its 8×-cheaper first pass. */
  def srpSketch(v: Column, planes: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.SrpSketch(
      ColumnBridge.expression(v), planes))
  }

  /** The composed column form [[srpSketch]] replaced — kept as the
    * readable reference and for the equivalence test (bit j of word w =
    * sign of dot(v, plane w·64+j); disjoint single-bit addends, so the
    * sum IS the OR — including the sign bit: 1L << 63 makes the word
    * negative, but no carry can occur). */
  def srpSketchHof(v: Column, planes: Array[Array[Double]]): Column =
    array((0 until SkWords).map { w =>
      (0 until 64).map { j =>
        when(dot(v, typedlit(planes(w * 64 + j).toSeq)) >= 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** Hamming distance between two packed sketches. */
  def skHamming(a: Column, b: Column): Column =
    (1 to SkWords).map(i =>
      bit_count(element_at(a, i).bitwiseXOR(element_at(b, i)))).reduce(_ + _)

  /** [[writeIndex]] plus the sketch column — the augmented on-disk
    * layout both access paths share: IVF probes prune to their lists'
    * mapped dirs; the sketch path column-prunes to (id, sk). */
  def writeIndexSketched(index: Index, path: String,
                         planes: Array[Array[Double]]): Unit =
    writeIndex(Index(index.model,
      index.assigned.withColumn("sk", srpSketch(col("v"), planes))), path)

  /** HIGH-RECALL top-k: quantized pre-filter + exact re-rank — the
    * regime q156 certifies IVF cannot serve economically (recall ≥ 0.95
    * on the worst-case fixture needs nprobe = 14/16, an 87.5% scan).
    * Two stages over the [[writeIndexSketched]] layout:
    *
    *  1. SKETCH SCAN: read ONLY the (id, sk) columns — 32 of the row's
    *     ~288 bytes, so the full-corpus pass costs ~⅛ of a full-vector
    *     scan in bytes (column pruning is physical in parquet; pinned in
    *     IvfSpec via the scan's ReadSchema). Rank per query by sketch
    *     hamming (a 256-bit SRP hamming is a monotone angle estimate)
    *     with id tie-break, and keep the best `candPool` per query via
    *     the mergeable bottom-k aggregate — ≤ candPool pairs per
    *     partition shuffle, never a corpus-sized sort (the q66/q130
    *     selection discipline).
    *  2. EXACT RE-RANK: read the FULL vectors of the candidate ids only
    *     — a literal IN over the id column, pushed to the parquet source
    *     (row-group stats prune at 100 TB when list files are id-sorted;
    *     the pushdown is pinned in IvfSpec) — and rank by the exact
    *     rounded cosine with q22's total order. The candidate id set is
    *     ≤ candPool × |queries| longs, a query-side constant collected
    *     like the IVF centroid/probe set (driver-safe by construction).
    *
    * Recall is the sketch's candidate quality; correctness of the final
    * ORDER is exact (stage 2 computes true cosines), so hits against
    * the exact KNN are provably MONOTONE in candPool — the candidate
    * ranking is total, a bigger pool is a superset, and any top-k
    * member entering the pool ranks above every non-member (q167 gate's
    * `monotone_ok`) — and candPool ≥ corpus IS the exact KNN
    * row-for-row (`full_exact_ok`). */
  def topKSketchRerank(spark: SparkSession, path: String, queries: DataFrame,
                       k: Int, candPool: Int,
                       planes: Array[Array[Double]]): DataFrame = {
    require(candPool >= k, s"candPool=$candPool must be >= k=$k")
    val q = queries.select(col("id").as("q_id"), col("v").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("qsk", srpSketch(col("qv"), planes))
      .localCheckpoint(true) // 256 dots per query row, evaluated once
    // stage 1: column-pruned sketch scan × broadcast queries
    val sk = readIndexFrame(spark, path).select(col("id"), col("sk"))
    val bottomC = org.apache.spark.sql.functions.udaf(
      new graft.functions.GraftUdfs.BottomKAggregator(candPool))
    val cand = sk.crossJoin(broadcast(q.select(col("q_id"), col("qsk"))))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"),
        skHamming(col("sk"), col("qsk")).cast("long").as("h"), col("id"))
      .groupBy(col("q_id"))
      .agg(bottomC(col("h"), col("id")).as("sel"))
      .select(col("q_id"), explode(col("sel")).as("p"))
      .select(col("q_id"), col("p._2").as("id"))
      .localCheckpoint(true) // consumed by the id collect AND the re-rank
    // stage 2: point-read candidates' full vectors (pushed IN filter)
    val candIds = cand.select(col("id")).distinct()
      .collect().map(_.getLong(0)) // ≤ candPool × |queries| — bounded
    val full = readIndexFrame(spark, path)
      .filter(col("id").isin(candIds.map(java.lang.Long.valueOf): _*))
      .select(col("id"), col("v"), col("nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    cand.join(full, "id")
      .join(broadcast(q.select(col("q_id"), col("qv"), col("qn"))), "q_id")
      .select(col("q_id"), col("id").as("neighbor_id"),
        round(cosineWithNorms(col("qv"), col("qn"), col("v"), col("nrm")), 4)
          .as("cos_sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(col("q_id"), col("rnk"))
  }

  // q167 parameters: the fixed candidate-pool ladder (the monotonicity
  // curve), the FRACTIONAL hi-recall pool, and the cost model's byte
  // ratios. The 0.95 bound is demanded from pool = max(128, n/8) up —
  // fractional because at a fixed pool the sketch's rank concentration
  // degrades with corpus size (measured recall@10 at pool 128:
  // 0.99 / 0.95 / 0.84 at n = 500 / 5k / 50k — the 100-distractor
  // pool that works at 5k is noise-swamped at 50k), while pool = n/8
  // measured 0.99 / 1.00 / 1.00 across the same scales with the cost
  // ratio CONSTANT by construction: sketch ⅛ + pool ⅛ = ¼ of brute
  // force ≈ 29% of the nprobe-14 scan, scale-independent.
  private val PoolLadder = Seq(16, 32, 64, 128)
  private val HiRecallPoolFloor = 128L
  private val SkBytes = SkWords * 8 // 32
  private val VecBytes = 64 * 4     // float32[64] payload

  /** q167: the HIGH-RECALL ECONOMICS gate — recall ≥ [[HiRecall]] at a
    * fraction of the nprobe = 14 scan q156 certifies that regime costs
    * on the SAME worst-case fixture. One row per candidate-pool width
    * plus the pool = corpus endpoint:
    *
    *  - `cost_ok` (integer bytes, oracle-stated): sketch pass
    *    (n·[[SkBytes]]) + pessimistic candidate reads (pool·[[VecBytes]],
    *    counting every candidate as a full un-pruned row) ≤ HALF of the
    *    nprobe-14 scan's (14/16)·n·[[VecBytes]] — the whole ladder
    *    clears it at ~⅛ + ε, the endpoint row is the determinism anchor
    *    and is exempt;
    *  - `monotone_ok`: hits never decrease in pool width (provable —
    *    see [[topKSketchRerank]]);
    *  - `hi_recall_ok`: micro-averaged recall@[[K]] ≥ [[HiRecall]] from
    *    pool = max([[HiRecallPoolFloor]], n/8) up (vacuous below — the
    *    fixed ladder rows chart the curve, the fractional row carries
    *    the bound; see the parameter comment for the measured
    *    0.99/1.00/1.00 across n = 500/5k/50k and why the pool must
    *    scale). Re-rank is exact, so pool membership is the only loss;
    *  - `full_exact_ok`: the pool = corpus row equals the exact KNN
    *    row-for-row including the rounded cosine — determinism, q156's
    *    endpoint discipline. */
  def q167SketchRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val planes = sketchPlanes(64)
    val index = build(emb, "id", "v", nlist = Nlist, fitSampleRows = 20000)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_q167_idx")
    try {
      writeIndexSketched(index, idxPath.toString, planes)
      val n = emb.count()
      val queries = emb.filter(col("id") < NQueries)
      val exact = SimilarityQueries.q22KnnExact(spark, dir)
        .select(col("q_id"), col("neighbor_id"), col("cos_sim"))
        .localCheckpoint(true) // joined against every ladder point
      val hiPool = math.max(HiRecallPoolFloor, n / 8)
      val pools = ((PoolLadder.map(_.toLong) :+ hiPool).filter(_ < n) :+ n)
        .distinct.sorted.map(_.toInt)
      // ONE sketch pass + ONE exact re-rank for the whole ladder
      // (guide §1.2: the ladder previously re-ran topKSketchRerank per
      // pool width — 6 sketch scans, 6 re-rank joins, 6 id collects).
      // The bottom-candPool selection is a PREFIX of the (hamming, id)
      // total order, so ranking every (query, id) pair once by that
      // order and filtering `srnk <= c` reproduces each pool's candidate
      // set exactly; the exact cosine is computed once for the
      // pool = corpus endpoint and each ladder point's top-k re-rank is
      // a filter + window over the same scored frame. Values identical
      // per construction (same selection order, same q22 tie-break).
      val q = queries.select(col("id").as("q_id"), col("v").as("qv"))
        .withColumn("qn", norm(col("qv")))
        .withColumn("qsk", srpSketch(col("qv"), planes))
        .localCheckpoint(true) // 256 dots per query row, evaluated once
      val sk = readIndexFrame(spark, idxPath.toString).select(col("id"), col("sk"))
      val sw = Window.partitionBy(col("q_id"))
        .orderBy(col("h").asc, col("id").asc)
      val ranked = sk.crossJoin(broadcast(q.select(col("q_id"), col("qsk"))))
        .filter(col("id") =!= col("q_id"))
        .select(col("q_id"),
          skHamming(col("sk"), col("qsk")).cast("long").as("h"), col("id"))
        .withColumn("srnk", row_number().over(sw).cast("long"))
        .select(col("q_id"), col("id"), col("srnk"))
      val full = readIndexFrame(spark, idxPath.toString)
        .select(col("id"), col("v"), col("nrm"))
      val scored = ranked.join(full, "id")
        .join(broadcast(q.select(col("q_id"), col("qv"), col("qn"))), "q_id")
        .select(col("q_id"), col("id").as("neighbor_id"), col("srnk"),
          round(cosineWithNorms(col("qv"), col("qn"), col("v"), col("nrm")), 4)
            .as("rr_sim"))
        .localCheckpoint(true) // consumed once per ladder point
      val rw = Window.partitionBy(col("q_id"))
        .orderBy(col("rr_sim").desc, col("neighbor_id").asc)
      val points = pools.map { c =>
        val got = scored.filter(col("srnk") <= c)
          .withColumn("rnk", row_number().over(rw).cast("long"))
          .filter(col("rnk") <= K)
          .select(col("q_id"), col("neighbor_id"), col("rr_sim"))
        exact.join(got, Seq("q_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_exact_total"),
            sum(when(col("rr_sim").isNotNull, 1L).otherwise(0L)).as("n_hit"),
            sum(when(col("rr_sim") === col("cos_sim"), 1L).otherwise(0L))
              .as("n_same_sim"))
          .select(lit(c.toLong).as("cand_pool"), lit(n).as("n_vectors"),
            col("n_exact_total"), col("n_hit"), col("n_same_sim"))
      }.reduce(_ unionByName _)
      val w = Window.orderBy(col("cand_pool"))
      points
        .withColumn("prev_hit", lag(col("n_hit"), 1).over(w))
        .select(col("cand_pool"), col("n_vectors"), col("n_exact_total"),
          (col("cand_pool") >= col("n_vectors") ||
            (col("n_vectors") * SkBytes + col("cand_pool") * VecBytes) * 2
              <= col("n_vectors") * VecBytes * 14 / 16).as("cost_ok"),
          (col("prev_hit").isNull || col("n_hit") >= col("prev_hit"))
            .as("monotone_ok"),
          (col("cand_pool") <
            greatest(lit(HiRecallPoolFloor), expr("n_vectors div 8")) ||
            col("n_hit") >= col("n_exact_total") * HiRecall).as("hi_recall_ok"),
          (col("cand_pool") < col("n_vectors") ||
            (col("n_hit") === col("n_exact_total") &&
             col("n_same_sim") === col("n_exact_total"))).as("full_exact_ok"))
        .orderBy(col("cand_pool"))
        .localCheckpoint(true) // materialize before the scratch index dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(idxPath.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** q168: QUANTIZER REFIT under the drift harness — the maintenance
    * operation that closes the IVF lifecycle (build → ingest → monitor
    * → REFIT): day 1 builds on half the corpus, day 2 ingests the rest
    * (the q89 drift shape — day-2 vectors were never seen by the
    * quantizer), then [[refit]] rebuilds the coarse quantizer on the
    * CURRENT corpus and re-lays the index atomically. Gate row
    * (integer anchors + booleans, the q71/q89 pattern):
    *
    *  - `n_vectors` (oracle anchor): no row lost or duplicated through
    *    ingest + refit — the full-outer compare against the embeddings
    *    fixture breaks it on any defect;
    *  - `contents_match`: every (id, v) survives the rebuild exactly;
    *  - `assign_match`: every stored list_id equals the NEW model's
    *    assignment of that row's vector — the determinism the fixed-
    *    quantizer contract ([[ingest]]'s pruning, q71) depends on,
    *    re-established under the new model;
    *  - `recall_ok`: the refit index still answers (micro-averaged
    *    recall@[[K]] ≥ [[MinRecall]] at nprobe=[[Nprobe]], the q28/q89
    *    band discipline — refit on the full corpus typically lands
    *    ABOVE the half-corpus fit, but k-means luck is not a contract,
    *    the band is). */
  def q168IvfRefit(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val cut = emb.agg(max(col("id"))).head().getLong(0) / 2
    val idxPath = java.nio.file.Files.createTempDirectory("graft_q168_idx")
    try {
      val built = build(emb.filter(col("id") <= cut), "id", "v",
        nlist = Nlist, fitSampleRows = 20000)
      writeIndex(built, idxPath.toString)
      ingest(spark, idxPath.toString, built.model, emb.filter(col("id") > cut),
        "id", "v")
      val model2 = refit(spark, idxPath.toString, nlist = Nlist,
        fitSampleRows = 20000)
      val after = readIndexFrame(spark, idxPath.toString)
        .select(col("id"), col("v"), col("list_id"))
        .localCheckpoint(true) // compared twice + probed below
      // contents + assignment: full outer against the fixture and the
      // new model's own assignment of the same vectors
      val reassign = model2.transform(
          emb.withColumn("features", array_to_vector(col("v"))))
        .select(col("id").as("b_id"), col("v").as("b_v"),
          col("list_id").as("b_list"))
      val checks = after.join(reassign, after("id") === col("b_id"), "full_outer")
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(after("id").isNull || col("b_id").isNull ||
            after("v") =!= col("b_v"), 1).otherwise(0)).as("n_content_bad"),
          sum(when(after("list_id") =!= col("b_list"), 1).otherwise(0))
            .as("n_assign_bad"))
      // the refit index still answers: q89's band on the reopened layout
      val ivf = topK(spark, readIndex(spark, model2, idxPath.toString),
          emb.filter(col("id") < NQueries), k = K, nprobe = Nprobe)
        .select(col("q_id"), col("neighbor_id")).withColumn("hit", lit(1))
      val exact = SimilarityQueries.q22KnnExact(spark, dir)
        .select(col("q_id"), col("neighbor_id"))
      val recall = exact.join(ivf, Seq("q_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact_total"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      checks.crossJoin(recall)
        .select(col("n_vectors"),
          (col("n_content_bad") === 0).as("contents_match"),
          (col("n_assign_bad") === 0).as("assign_match"),
          (col("n_hit") >= col("n_exact_total") * MinRecall).as("recall_ok"))
        .localCheckpoint(true) // materialize before the scratch dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(idxPath.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q168IvfRefitSql: String =
    """SELECT count(*)::BIGINT AS n_vectors, TRUE AS contents_match,
      |  TRUE AS assign_match, TRUE AS recall_ok
      |FROM embeddings""".stripMargin

  /** q208: DRIFT-LOCALIZED REFIT under the gate — q168's full rebuild
    * is the quarterly tool; this is the nightly one. Harness: build on
    * the full fixture, snapshot the mean baseline, then ingest a
    * drift batch (shifted copies of every 4th vector — the +0.6/coord
    * shift concentrates them in the positive-orthant lists, so SOME
    * lists drift and others provably don't). [[refitLocalized]] at
    * ε=0.05 must then (certificates, the q167/q168 style):
    *  - touch at least one list and FEWER than all of them
    *    (`drift_localized` — the whole point vs q168);
    *  - leave every undrifted list dir byte-identical (file name+size
    *    fingerprints before vs after — `untouched_identical`);
    *  - conserve every row (`n_vectors` exact vs the oracle's count
    *    algebra — a reassignment that drops or duplicates rows fails
    *    the hash);
    *  - still answer: micro-averaged recall@10 of the refreshed index
    *    (centroid-parameterized probes, nprobe=4) against the exact
    *    KNN of the DRIFTED corpus ≥ the q28/q89/q168 band
    *    (`recall_ok`).
    * Cost scales with the drifted region, not the corpus — the plan
    * reads the undrifted dirs zero times (IvfSpec's localized case
    * pins the undrifted dirs byte-identical, file for file). */
  def q208IvfLocalRefit(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val idxPath = java.nio.file.Files.createTempDirectory("graft_q208_idx")
    val root = new org.apache.hadoop.fs.Path(idxPath.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val built = build(emb, "id", "v", nlist = Nlist, fitSampleRows = 20000)
      writeIndex(built, idxPath.toString)
      snapshotListMeans(spark, idxPath.toString)
      val batch = emb.filter(col("id") % 4 === 0)
        .select((col("id") + 1000000L).as("id"),
          transform(col("v"), x => x + lit(0.6f)).as("v"))
        .localCheckpoint(true) // ingested, then unioned into the corpus
      ingest(spark, idxPath.toString, built.model, batch, "id", "v")
      // per-list file fingerprints through the head mapping: an
      // untouched list must keep its EXACT dirs and files (dirs are
      // immutable, so equal fingerprints ⇒ equal bytes)
      val before = listDirFingerprints(spark, idxPath.toString)
      val (newCenters, drifted) = refitLocalized(spark, idxPath.toString,
        centroidsOf(built.model), epsilon = 0.05)
      val after = listDirFingerprints(spark, idxPath.toString)
      val driftedSet = drifted.toSet
      val untouchedOk = before.keys.filterNot(driftedSet)
        .forall(l => after.get(l).contains(before(l)))
      val localizedOk = drifted.nonEmpty && drifted.size < before.size
      // conservation + recall over the DRIFTED corpus
      val idx = readIndexFrame(spark, idxPath.toString)
        .localCheckpoint(true) // counted and probed
      val corpus = emb.unionByName(batch)
        .localCheckpoint(true) // exact side + query set
      val qf = corpus.filter(col("id") < NQueries)
        .select(col("id").as("q_id"), col("v").as("qv"))
        .withColumn("qn", norm(col("qv")))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      val exact = corpus.withColumn("nrm", norm(col("v")))
        .crossJoin(broadcast(qf))
        .filter(col("id") =!= col("q_id"))
        .select(col("q_id"), col("id").as("neighbor_id"),
          round(cosineWithNorms(col("qv"), col("qn"), col("v"), col("nrm")), 4)
            .as("cos_sim"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= K)
        .select(col("q_id"), col("neighbor_id"))
      val ivf = topKWithCentroids(spark, idx, newCenters,
          corpus.filter(col("id") < NQueries), k = K, nprobe = Nprobe)
        .select(col("q_id"), col("neighbor_id")).withColumn("hit", lit(1))
      val recall = exact.join(ivf, Seq("q_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact_total"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      idx.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(recall)
        .select(col("n_vectors"),
          lit(localizedOk).as("drift_localized"),
          lit(untouchedOk).as("untouched_identical"),
          (col("n_hit") >= col("n_exact_total") * MinRecall).as("recall_ok"))
        .localCheckpoint(true) // materialize before the scratch dir dies
    } finally {
      fs.delete(root, true)
    }
  }

  val q208IvfLocalRefitSql: String =
    """SELECT ((SELECT count(*) FROM embeddings) +
      |  (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0))::BIGINT
      |    AS n_vectors,
      |  TRUE AS drift_localized, TRUE AS untouched_identical,
      |  TRUE AS recall_ok""".stripMargin

  /** q213: INDEX COMPACTION under the gate — nightly [[ingest]] appends
    * one generation dir per batch per touched list, so a year of
    * batches is the classic small-file problem applied to the index.
    * Harness: build on a third of the corpus, ingest the rest as two
    * waves (every list accumulates up to three dirs), then the engine's
    * one compaction, [[graft.sinks.DirManifest.compact]] over the
    * `list_id` cells. Certificates:
    *  - `n_vectors` + `contents_match` (oracle anchor + q71's exact
    *    compare): compaction changes LAYOUT only — every (id, v,
    *    list_id) survives exactly once;
    *  - `compacted_ok`: at least one list compacted, every compacted
    *    list collapsed to ONE dir, and the total data file count
    *    strictly fell;
    *  - `untouched_identical`: lists at their file target keep their
    *    exact dirs and files (byte-identical — the q80/q215 skip
    *    contract).
    * Publish is ONE commit across all compacted lists — no rename, no
    * window where a probe sees half a compaction. */
  def q213IvfCompact(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val idxPath = java.nio.file.Files.createTempDirectory("graft_q213_idx")
    val root = new org.apache.hadoop.fs.Path(idxPath.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val hi = emb.agg(max(col("id"))).head().getLong(0)
      val built = build(emb.filter(col("id") <= hi / 3), "id", "v",
        nlist = Nlist, fitSampleRows = 20000)
      writeIndex(built, idxPath.toString)
      Seq(
        emb.filter(col("id") > hi / 3 && col("id") <= 2 * hi / 3),
        emb.filter(col("id") > 2 * hi / 3))
        .foreach(w => ingest(spark, idxPath.toString, built.model, w,
          "id", "v"))
      val mappingBefore = mappingOf(spark, idxPath.toString)
      val fpBefore = listDirFingerprints(spark, idxPath.toString)
      val graft.sinks.DirManifest.CompactStats(compactedIds, filesBefore,
        filesAfter) = graft.sinks.DirManifest.compact(spark,
          idxPath.toString, "list_id", targetBytes = 1L << 30)
      val compacted = compactedIds.map(_.toInt)
      val mappingAfter = mappingOf(spark, idxPath.toString)
      val fpAfter = listDirFingerprints(spark, idxPath.toString)
      val compactedOk = compacted.nonEmpty &&
        compacted.forall(l => mappingAfter(l).size == 1) &&
        filesAfter < filesBefore
      val untouchedOk = mappingBefore.keys.filterNot(compacted.toSet)
        .forall(l => mappingAfter.get(l).contains(mappingBefore(l)) &&
          fpAfter.get(l) == fpBefore.get(l))
      val after = readIndexFrame(spark, idxPath.toString)
        .select(col("id"), col("v"), col("list_id"))
      val batchAssign = built.model.transform(
          emb.withColumn("features", array_to_vector(col("v"))))
        .select(col("id").as("b_id"), col("v").as("b_v"),
          col("list_id").as("b_list"))
      after.join(batchAssign, after("id") === col("b_id"), "full_outer")
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(after("id").isNull || col("b_id").isNull ||
            after("list_id") =!= col("b_list") ||
            after("v") =!= col("b_v"), 1).otherwise(0)).as("n_bad"))
        .select(col("n_vectors"), (col("n_bad") === 0).as("contents_match"),
          lit(compactedOk).as("compacted_ok"),
          lit(untouchedOk).as("untouched_identical"))
        .localCheckpoint(true) // materialize before the scratch dir dies
    } finally fs.delete(root, true)
  }

  val q213IvfCompactSql: String =
    """SELECT count(*)::BIGINT AS n_vectors, TRUE AS contents_match,
      |  TRUE AS compacted_ok, TRUE AS untouched_identical
      |FROM embeddings""".stripMargin

  /** q214: INGEST WRITER CONTENTION under the gate — two nightly
    * embedding jobs race on one index (the q209 scenario applied to
    * [[ingest]]): after a day-1 build on the low half, writer A (odd
    * ids above the cut) has its generation written and, BEFORE A
    * publishes, writer B (even ids above the cut PLUS a re-delivery of
    * every 5th id — so some of A's own ids arrive through B first)
    * commits through the seam. A's CAS loses, and A re-derives its
    * anti-join against B's head: the ids B landed first drop out of
    * A's fresh set — no id lands twice, no row is lost, the final
    * index equals ONE batch assignment of the whole corpus under the
    * fixed model (q71's exact compare). `n_commits` pins the protocol:
    * exactly build + B + A commit files, losers never double-publish. */
  def q214IvfIngestContention(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val idxPath = java.nio.file.Files.createTempDirectory("graft_q214_idx")
    val root = new org.apache.hadoop.fs.Path(idxPath.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val cut = emb.agg(max(col("id"))).head().getLong(0) / 2
      val built = build(emb.filter(col("id") <= cut), "id", "v",
        nlist = Nlist, fitSampleRows = 20000)
      writeIndex(built, idxPath.toString)
      val dayA = emb.filter(col("id") > cut && col("id") % 2 === 1)
      val dayB = emb.filter(col("id") > cut && col("id") % 2 === 0)
        .union(emb.filter(col("id") % 5 === 0)) // straddles A's ids
      ingest(spark, idxPath.toString, built.model, dayA, "id", "v",
        beforePublish = () => {
          ingest(spark, idxPath.toString, built.model, dayB, "id", "v"); ()
        })
      val nCommits = graft.sinks.CommitLog.seqs(fs, root).size.toLong
      val incr = readIndexFrame(spark, idxPath.toString)
        .select(col("id"), col("v"), col("list_id"))
      val batchAssign = built.model.transform(
          emb.withColumn("features", array_to_vector(col("v"))))
        .select(col("id").as("b_id"), col("v").as("b_v"),
          col("list_id").as("b_list"))
      incr.join(batchAssign, incr("id") === col("b_id"), "full_outer")
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(incr("id").isNull || col("b_id").isNull ||
            incr("list_id") =!= col("b_list") ||
            incr("v") =!= col("b_v"), 1).otherwise(0)).as("n_bad"))
        .select(col("n_vectors"), (col("n_bad") === 0).as("contents_match"),
          lit(nCommits).as("n_commits"))
        .localCheckpoint(true) // materialize before the scratch dir dies
    } finally fs.delete(root, true)
  }

  val q214IvfIngestContentionSql: String =
    """SELECT count(*)::BIGINT AS n_vectors, TRUE AS contents_match,
      |  3::BIGINT AS n_commits
      |FROM embeddings""".stripMargin

  /** Oracle: the pool ladder + the corpus endpoint with integer anchors
    * and literal TRUEs (the q156 pattern). */
  val q167SketchRerankSql: String = {
    val pools = PoolLadder.mkString("(", "), (", ")")
    s"""WITH n AS (SELECT count(*)::BIGINT AS n FROM embeddings),
       |p(cand_pool) AS (VALUES $pools),
       |ladder AS (
       |  SELECT DISTINCT cand_pool FROM (
       |    SELECT cand_pool::BIGINT AS cand_pool FROM p, n WHERE cand_pool < n.n
       |    UNION ALL SELECT greatest($HiRecallPoolFloor, n.n // 8) FROM n
       |      WHERE greatest($HiRecallPoolFloor, n.n // 8) < n.n
       |    UNION ALL SELECT n FROM n))
       |SELECT cand_pool, n.n AS n_vectors,
       |  ((SELECT count(*) FROM embeddings WHERE vec_id < $NQueries)
       |    * least($K, n.n - 1))::BIGINT AS n_exact_total,
       |  TRUE AS cost_ok, TRUE AS monotone_ok, TRUE AS hi_recall_ok,
       |  TRUE AS full_exact_ok
       |FROM ladder, n ORDER BY cand_pool""".stripMargin
  }
}
