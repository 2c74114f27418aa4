package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Per-round benchmark: runs every SparkEntry query on GRAFT_SF_DIR, in lex
  * order, and emits one JSON metric line.
  *
  * Measurement forces FULL materialization with a `noop`-format write: under
  * a bare `.count()` Catalyst prunes every unreferenced projection, so
  * pure-projection queries (q10, q16, q17) would be benched at scan+count
  * cost instead of their real compute. The noop sink evaluates every output
  * column and discards the rows — the honest per-query cost.
  *
  * The metric line goes to stdout AND to a file (GRAFT_BENCH_OUT, default
  * [[GraftConfig.benchOut]]) because sbt's log decoration around stdout
  * made the driver's parse fail in round 1 (BENCH_r01.json "parsed": null).
  */
object Bench {
  /** One query's outcome: the median of its successful timed reps (None
    * when every rep failed), the failed-rep count, the per-rep durations
    * in run order and the JVM collector time across its timed reps. */
  private[graft] final case class QueryResult(name: String,
      median: Option[Double], nFailed: Int, repsSec: Seq[Double], gcMs: Long)

  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.fromEnv()
    val sfDir = cfg.sfDir
    val spark = GraftSession
      .builder(master = s"local[${cfg.cpus}]", shufflePartitions = cfg.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: session bring-up, parquet footer reads, and codegen
    // compilation otherwise land entirely on the alphabetically-first query
    // (~6 s of phantom cost on q10 in round 1 measurements).
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // Median of `benchReps` timed runs per query: run-to-run noise on a
    // shared host is ±40%, so single-shot durations can't distinguish a
    // real regression from scheduler luck; medians make round-over-round
    // deltas meaningful. A run that throws contributes no duration — a
    // query whose every run failed reports null and lands in `failed`,
    // and one that failed intermittently lands in `flaky` with its
    // failure count (a silently-broken query must not skew the headline
    // total with a near-zero "duration", and a half-broken one must not
    // pass for healthy).
    val reps = math.max(1, cfg.benchReps)
    // GRAFT_BENCH_ONLY narrows the run to named queries — for timing one
    // query in isolation while iterating (the full-alphabet run is the
    // driver's; a filtered run's totals are not comparable to it).
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => cfg.benchOnly.isEmpty || cfg.benchOnly(name) }
    // cumulative JVM GC time (all collectors) — deltas attribute each
    // query's share of collector wall-clock during its TIMED reps
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ > 0).sum
    }
    // The iterative families (connected components, IVF build/refit,
    // streaming harnesses, ledgered ingests) JIT/codegen-compile whole
    // operator stacks on their first run: their rep-1 duration carries
    // 2-6 s of compilation the steady state never pays, which a
    // 3-rep median only partially absorbs (the r13 artifact's
    // reps_sec showed 2.6× rep-1 spikes on identical code). One
    // DISCARDED warmup rep before the timed ones keeps the recorded
    // medians inside the committed artifact's rep spread.
    val warmupFamilies =
      Seq("stream", "ivf", "cluster", "ingest", "refit", "contention")
    def needsWarmup(name: String): Boolean =
      warmupFamilies.exists(name.contains)
    // GRAFT_BENCH_MODE=stable: a FULL untimed warm pass before any clock
    // starts — every selected query runs once and is discarded, so
    // codegen/JIT compilation and the JVM's heap steady state land
    // up front instead of accruing across the timed alphabet (the
    // cumulative-pressure term behind the r17 424-492s spread on
    // identical code). Fixed lex order + this pinned warmup make two
    // consecutive runs comparable without the pressure caveat.
    if (cfg.benchMode == "stable") {
      selected.foreach { case (_, fn) =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // failures surface in timed reps
        spark.catalog.clearCache()
      }
      System.gc()
    }
    val results = selected.map { case (name, fn) =>
      if (needsWarmup(name) && cfg.benchMode != "stable") {
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // failures surface in timed reps
        spark.catalog.clearCache()
        System.gc()
      }
      var gcDuringReps = 0L
      val durations = (1 to reps).flatMap { _ =>
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        gcDuringReps += gcMillis() - gc0
        // stop the clock BEFORE cleanup: clearCache + a forced full GC
        // cost ~0.2s and belong to the harness, not the query under
        // measurement
        val dt = (System.nanoTime() - t0) / 1e9
        // operators persist intermediates (signatures, SRP bits); drop
        // them between runs so one run's cache doesn't occupy memory
        // while the next is measured. The GC call is load-bearing too:
        // gate operators materialize results via localCheckpoint, whose
        // blocks are freed by the ContextCleaner only after the JVM
        // collects the dereferenced Dataset (periodic GC default: 30 min)
        // — without the nudge, blocks pile up across ~120 runs and later
        // queries pay GC/memory pressure (observed: q28 2.5s → 27s by
        // the time the alphabet reached it)
        spark.catalog.clearCache()
        System.gc()
        if (ok) Some(dt) else None
      }
      // true median: midpoint average on an even count (after a flaky
      // failure at reps=2 the upper-middle pick would report the SLOWER
      // of the two surviving runs)
      val sorted = durations.sorted
      val median =
        if (sorted.isEmpty) None
        else if (sorted.size % 2 == 1) Some(sorted(sorted.size / 2))
        else Some((sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2)
      QueryResult(name, median, reps - durations.size, durations, gcDuringReps)
    }
    val nWarmed = selected.count { case (name, _) => needsWarmup(name) }
    val json = metricLine(results, reps, cfg.benchMode, nWarmed, sfDir)
    println(json)
    // a GRAFT_BENCH_ONLY-filtered run is an iteration tool: its partial
    // total must not clobber the canonical full-run artifact — honor an
    // EXPLICIT output override, else stdout only
    if (cfg.benchOnly.nonEmpty && selected.isEmpty)
      System.err.println(s"[bench] GRAFT_BENCH_ONLY matched no queries: ${cfg.benchOnly}")
    if (cfg.benchOnly.isEmpty || cfg.benchOutSet) {
      val out = cfg.benchOut
      try Files.writeString(Paths.get(out), json + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] write $out: ${e.getMessage}") }
    }
    spark.stop()
  }

  /** The metric line. Every string (query names, the fixture dir) goes
    * through [[Jsons.quote]]. `"order"` is always `"lex"`: readers of
    * earlier artifacts, which could also say `"reverse"`, still parse it. */
  private[graft] def metricLine(results: Seq[QueryResult], reps: Int,
                                mode: String, nWarmed: Int,
                                sfDir: String): String = {
    def obj(f: QueryResult => String): String =
      results.map(r => Jsons.quote(r.name) + ":" + f(r)).mkString("{", ",", "}")
    // Locale.ROOT: the f-interpolator honors the default locale, and a
    // comma decimal separator would corrupt the JSON artifact
    def sec(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qs = obj(_.median.map(_.toString).getOrElse("null"))
    val failed = results.filter(_.median.isEmpty).map(r => Jsons.quote(r.name))
      .mkString("[", ",", "]")
    val flaky = results.filter(r => r.median.isDefined && r.nFailed > 0)
      .map(r => Jsons.quote(r.name) + ":" + r.nFailed).mkString("{", ",", "}")
    // attribution columns (the r14 finding — 16 tail-of-run queries ran
    // >2× slower in one environment at identical code): run_pos is each
    // query's 0-based position in THIS run's order, gc_sec its share of
    // JVM collector time across its timed reps. A reader diffing two
    // artifacts can now separate "the plan regressed" (slow at any
    // position, little GC) from "the JVM was under cumulative pressure"
    // (slow only late, GC-dominated) without re-running anything.
    val runPos = results.zipWithIndex
      .map { case (r, i) => Jsons.quote(r.name) + ":" + i }.mkString("{", ",", "}")
    val gcSec = obj(r => sec(r.gcMs / 1e3))
    // per-rep durations IN RUN ORDER (not sorted): the artifact itself
    // must show run-to-run spread — a 2.6× swing between two runs of
    // identical code (the r12 q56/q68 finding) is invisible in a median,
    // and a reader diffing two BENCH artifacts needs to tell a plan
    // regression (all reps moved) from scheduler/GC noise (one rep
    // spiked) without re-running anything
    val repsSec = obj(_.repsSec.map(sec).mkString("[", ",", "]"))
    val total = results.flatMap(_.median).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":$failed,"flaky":$flaky,"reps":$reps,"reps_sec":$repsSec,""" +
      s""""run_pos":$runPos,"gc_sec":$gcSec,"order":"lex",""" +
      s""""mode":${Jsons.quote(mode)},"warmup_queries":$nWarmed,""" +
      s""""sf":${Jsons.quote(sfDir)}}"""
  }
}
