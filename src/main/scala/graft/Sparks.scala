package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Tiny session helpers shared by operators and specs. */
object Sparks {

  /** The distinct values of a LOW-CARDINALITY long expression (a hash
    * bucket id — ≤ nBuckets values by construction), collected in ONE
    * job with NO exchange: each partition folds its values into a local
    * set (bounded by the cardinality, never the row count) and the
    * driver unions the sets. The `.select(e).distinct().collect()` form
    * this replaces paid a shuffle plus a second (AQE) job on every
    * touched-bucket probe — pure fixed cost for a metadata-sized
    * answer (optimization guide §2.4). Rows where the expression is
    * null are ignored (merge keys are pre-filtered non-null anyway). */
  def distinctLongs(df: DataFrame, e: Column): Seq[Long] = {
    val projected = df.select(e.cast("long"))
    val perPartition = projected.queryExecution.toRdd.mapPartitions { it =>
      val s = new java.util.HashSet[java.lang.Long]()
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) s.add(r.getLong(0))
      }
      Iterator(s.toArray(Array.empty[java.lang.Long]).map(_.longValue))
    }.collect()
    perPartition.flatten.distinct.sorted.toSeq
  }

  /** Whether `df` has no row, in ONE job over every partition with no
    * LIMIT in the plan: each task answers whether its partition is empty
    * after at most one row. `Dataset.isEmpty` plans a LIMIT, and LIMIT
    * code names a JVM-global counter (`_limit_counter_N`), so every call
    * generates new source and compiles new classes; an empty answer also
    * costs it several jobs, as `executeTake` widens its partition scan.
    * This plan generates the same source on every call, so a loop probing
    * the same shape each round compiles it once. */
  def isEmpty(df: DataFrame): Boolean =
    df.queryExecution.toRdd.mapPartitions(it => Iterator(!it.hasNext))
      .collect().forall(identity)

  /** PARALLELISM FLOOR for CPU-dense projections over NARROW scans
    * (optimization guide §2.5 "input skew: one huge unsplittable file …
    * otherwise repartition immediately after the read"): when the
    * input's optimizer-estimated size is too small for the file scan to
    * reach even half the session's core count (parquet splits by
    * `spark.sql.files.maxPartitionBytes`; a single-row-group fixture
    * file is 1 task no matter what), round-robin repartition to
    * 2× defaultParallelism BEFORE the expensive per-row work
    * (tokenizers, digest signatures, gram explodes) so it doesn't run
    * single-threaded behind the scan. Deliberately size-conditioned,
    * not unconditional: at production scale the scan is already wider
    * than the cluster and the condition is false — the plan is
    * UNCHANGED and no corpus-sized shuffle is ever added (the r18/r19
    * payload-shuffle invariants stand). Unknown stats (streaming
    * micro-batch frames, some checkpoints report Long.Max) fail the
    * condition — also a no-op. Values are unaffected by partitioning:
    * every caller is a per-row projection feeding order-insensitive
    * aggregation/joins (and keyless repartition sorts before
    * distributing, so retries are deterministic — SPARK-23207). */
  def fanOutNarrow(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(maxPart) * cores / 2) df.repartition(cores * 2)
    else df
  }

  /** Run `body` with one SQL conf pinned, restoring the PRIOR value
    * (or unsetting an absent one) afterward — never clobbering a
    * deliberate session-level setting with a hard-coded default. */
  def withConf[T](spark: SparkSession, key: String, value: String)
                 (body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
