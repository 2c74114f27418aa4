package graft

/** Env-prefixed engine configuration — the counterpart of the reference's
  * Dynaconf loader (reference: src/config.py:8-14, prefix `BULK_UPDATE_`,
  * secrets like the connection string arriving via env at
  * mongo_update.py:65). Here the prefix is `GRAFT_`, every knob has a
  * code default, and the loader is a pure function of the env map so
  * tests can inject one. It is the engine's only reader of `GRAFT_` and
  * `SPARK_GRAFT_` variables (EnvKnobsSpec); SCALE.md "Knobs and
  * alternate paths" names the evidence for each.
  */
final case class GraftConfig(
    cpus: Int,                 // GRAFT_CPUS: local parallelism / shuffle partitions
    sfDir: String,             // GRAFT_SF_DIR: fixture directory
    benchOut: String,          // GRAFT_BENCH_OUT: bench metric JSON file
    benchOutSet: Boolean,      // whether GRAFT_BENCH_OUT was set (a filtered
                               // bench run writes the file only then)
    benchReps: Int,            // GRAFT_BENCH_REPS: timed runs per query (median reported)
    mergeOrderCol: Option[String], // GRAFT_MERGE_ORDER_COL: duplicate-key fold order
    tolerant: Boolean,         // GRAFT_TOLERANT: drop-and-continue on merge failure
    benchOnly: Set[String],    // GRAFT_BENCH_ONLY: comma-separated query-name filter
                               // (empty = all) — for timing one query in isolation
    verifyOnly: Set[String],   // GRAFT_VERIFY_ONLY: same filter for the Verify
                               // dump — gating one new query while iterating
                               // (the driver's full gate always runs unfiltered)
    benchMode: String)         // GRAFT_BENCH_MODE: cold (default) | stable —
                               // stable prepends a FULL untimed warm pass
                               // (every selected query once, discarded) so
                               // codegen/JIT and heap steady-state land
                               // before any clock starts; two consecutive
                               // stable runs agree within ±5% total where
                               // cold runs spread ±8% (the r17 424-492s
                               // round-over-round caveat)

object GraftConfig {
  /** `defaultCpus`: the entry point's core count when neither
    * `GRAFT_CPUS` nor `SPARK_GRAFT_CPUS` is set. */
  def fromEnv(env: Map[String, String] = sys.env,
              defaultCpus: Int = 32): GraftConfig = GraftConfig(
    cpus = env.get("GRAFT_CPUS").orElse(env.get("SPARK_GRAFT_CPUS"))
      .map(_.toInt).getOrElse(defaultCpus),
    sfDir = env.get("GRAFT_SF_DIR").orElse(env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1"),
    benchOut = env.get("GRAFT_BENCH_OUT").orElse(env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse("/root/repo/BENCH.json"),
    benchOutSet = env.contains("GRAFT_BENCH_OUT") || env.contains("SPARK_GRAFT_BENCH_OUT"),
    benchReps = env.get("GRAFT_BENCH_REPS").orElse(env.get("SPARK_GRAFT_BENCH_REPS"))
      .map(_.toInt).getOrElse(3),
    mergeOrderCol = env.get("GRAFT_MERGE_ORDER_COL"),
    tolerant = env.get("GRAFT_TOLERANT").exists(v => v == "1" || v.equalsIgnoreCase("true")),
    benchOnly = env.get("GRAFT_BENCH_ONLY").orElse(env.get("SPARK_GRAFT_BENCH_ONLY"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty),
    verifyOnly = env.get("GRAFT_VERIFY_ONLY").orElse(env.get("SPARK_GRAFT_VERIFY_ONLY"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty),
    benchMode = env.get("GRAFT_BENCH_MODE").orElse(env.get("SPARK_GRAFT_BENCH_MODE"))
      .getOrElse("cold"))
}
