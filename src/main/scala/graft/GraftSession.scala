package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Design-for-scale defaults: AQE on (runtime re-plan, skew-join handling,
  * partition coalescing), shuffle partitions sized to the local core count
  * rather than the 200 default (on a real cluster this would be set to
  * ~2-3x total cores via `--conf`), UTC session time zone for oracle parity.
  * The core count comes from [[GraftConfig]] (`GRAFT_CPUS`, default 32);
  * every other setting below is fixed.
  */
object GraftSession {
  def builder(master: String = s"local[${GraftConfig.fromEnv().cpus}]",
              shufflePartitions: Int = GraftConfig.fromEnv().cpus)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions) // native expressions as SQL fns
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE on (see above): turning it off was measured slower
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE re-plan (coalesce) the stages under persist()ed frames —
      // the label-propagation/persist loops otherwise pin every round's
      // stages at the raw shuffle-partition count (guide §2.2: fewer,
      // larger partitions; cached-plan exchange reuse matters less here
      // than right-sized stages)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      // ALWAYS use the serialized (tungsten-sort / UnsafeShuffleWriter)
      // shuffle writer for SQL exchanges, never the bypass-merge writer.
      // Thread sampling (r19, guide §7.3) caught 85% of runnable
      // executor samples inside BypassMergeSortShuffleWriter's file
      // churn: with R reduce partitions it creates, opens, concatenates
      // (transferTo + mmap/unmap) and deletes R temp files PER MAP TASK
      // — ~140-230 ms of wall per task here, and at cluster scale R
      // grows with the data so the churn grows quadratically in M×R
      // files (guide §2.2). The tungsten writer buffers serialized rows
      // and writes ONE data + ONE index file per map task at every
      // scale; Spark only prefers bypass below the 200-partition legacy
      // threshold, a heuristic tuned for pre-tungsten RDD shuffles.
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      // Codegen class cache sized to the workload: the default 100
      // entries thrash under a 241-query suite (Profile counted 64-71
      // Janino recompiles PER RUN of a single ingest harness, ~10 ms
      // each, each blocking the first task of its stage), and evicted
      // entries also churn classloaders. Static conf — must be set at
      // session build. Sized to distinct plan count, not data scale.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // AQE coalesces post-shuffle partitions by BYTES; for CPU-dense
      // rows (exploded gram postings, gram-array verify kernels,
      // signature frames) the default 1 MB floor squeezes seconds of
      // compute into 1-2 tasks whenever the shuffled bytes are small
      // (profiled: a 1.4 s single-task verify stage in the q20 gate).
      // 64 KB keeps such stages parallel. Scale-neutral: once shuffle
      // bytes are cluster-sized, partition sizing is governed by
      // totalBytes/parallelism and this floor is unreachable — it only
      // ever acts on small-byte/high-CPU stages, the exact case byte
      // heuristics misjudge.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // File listing for multi-dir reads (the DirManifest/ManifestMerge
      // per-generation basePath reads): below this many paths the
      // driver lists inline; above it Spark launches a DISTRIBUTED
      // LISTING JOB — profiling caught 47 such jobs (one per manifest
      // read, ~50 ms fixed cost each) in q213 alone, for directories a
      // local or HDFS driver lists in microseconds. 1024 keeps every
      // fixture-scale listing inline.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // events.parquet carries TIMESTAMP(NANOS); read as long nanos and
      // truncate in Tables.events (Spark has no nanosecond timestamp type).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local file:// without per-file chmod FORKS or duplicate .crc
      // writes (see graft.hadoop.NioLocalFileSystem — thread sampling
      // showed every parquet-writing task forking `chmod` through
      // Hadoop's Shell fallback); scheme and O_EXCL semantics are
      // unchanged, and cluster schemes (hdfs/s3a) never touch this
      .config("spark.hadoop.fs.file.impl",
        "graft.hadoop.NioLocalFileSystem")
      // the FileContext mirror: streaming checkpoint/state files go
      // through the AbstractFileSystem API (see graft.hadoop.NioLocalFs)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.hadoop.NioLocalFs")
      .config("spark.ui.enabled", "false")
      // One executor classloader per SparkContext, not one per session:
      // with artifact isolation on, every task carries its session's id
      // and the executor loads its generated classes through a loader
      // made for that id, and the codegen cache keys on (loader, source).
      // A streaming query runs in a cloned session with a fresh id, so
      // each stream drain recompiled byte-identical classes (q202: 6 per
      // run, 0 with isolation off). The engine adds no per-session jars,
      // files or classes, the only thing isolation separates.
      .config("spark.sql.artifact.isolation.enabled", "false")

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
