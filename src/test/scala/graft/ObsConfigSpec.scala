package graft

import java.nio.file.Files
import graft.obs.StageMetrics
import graft.sources.SyntheticSource
import graft.jobs.BulkUpdateJob

/** Observability + config parity (reference src/func/log.py, src/config.py)
  * and the reference's batch/slice arithmetic (tests/test_parquet.py:84-123)
  * mapped onto partition counts. */
class ObsConfigSpec extends SparkSpec {

  test("stage listener captures per-stage events with durations for a real job") {
    val dir = Files.createTempDirectory("graft_obs").toString
    SyntheticSource.write(SyntheticSource.generate(spark, 200, 2, seed = 3), s"$dir/updates")
    // an independent listener over the same body: once withStageMetrics
    // returns, the bus is drained, so both have seen the same stages
    val sc = spark.sparkContext
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val independent = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        seen.add(e.stageInfo.stageId)
    }
    sc.addSparkListener(independent)
    val (stats, stages) =
      try StageMetrics.withStageMetrics(spark) {
        BulkUpdateJob.run(spark, s"$dir/updates", s"$dir/collection", Some(2))
      } finally sc.removeSparkListener(independent)
    import scala.jdk.CollectionConverters._
    assert(stages.map(_.stageId).toSet == seen.asScala.toSet,
      s"returned ${stages.map(_.stageId).sorted}, listener saw ${seen.asScala.toSeq.sorted}")
    assert(stats.nUpserted == 200)
    assert(stages.nonEmpty, "a merge job must produce at least one stage event")
    assert(stages.forall(_.status == "success"))
    assert(stages.forall(_.durationS >= 0.0))
    // the events serialize to parseable one-line JSON (log shape parity)
    stages.foreach { e =>
      val j = e.toJson
      assert(j.startsWith("{") && j.endsWith("}") && !j.contains("\n"))
      assert(j.contains("\"stage\":") && j.contains("\"duration_s\":"))
    }
  }

  test("config loads from env map with GRAFT_ prefix and sane defaults") {
    val cfg = GraftConfig.fromEnv(Map(
      "GRAFT_CPUS" -> "8", "GRAFT_TOLERANT" -> "true",
      "GRAFT_MERGE_ORDER_COL" -> "seq"))
    assert(cfg.cpus == 8 && cfg.tolerant && cfg.mergeOrderCol.contains("seq"))
    val defaults = GraftConfig.fromEnv(Map.empty)
    assert(defaults.cpus == 32 && !defaults.tolerant && defaults.mergeOrderCol.isEmpty)
    // legacy SPARK_GRAFT_* names still resolve
    assert(GraftConfig.fromEnv(Map("SPARK_GRAFT_CPUS" -> "4")).cpus == 4)
    // bench query filter: comma-separated, trimmed, empty entries dropped
    assert(defaults.benchOnly.isEmpty)
    assert(GraftConfig.fromEnv(Map("GRAFT_BENCH_ONLY" -> "q1_agg, q29_winnow,,"))
      .benchOnly == Set("q1_agg", "q29_winnow"))
    // the entry point's own core default applies only when neither name is set
    assert(GraftConfig.fromEnv(Map.empty, defaultCpus = 4).cpus == 4)
    assert(GraftConfig.fromEnv(Map("GRAFT_CPUS" -> "6"), defaultCpus = 4).cpus == 6)
    assert(GraftConfig.fromEnv(Map("SPARK_GRAFT_CPUS" -> "2"), defaultCpus = 4).cpus == 2)
    // GRAFT_ wins over the legacy name; an explicit bench output is marked set
    assert(GraftConfig.fromEnv(Map("GRAFT_CPUS" -> "3", "SPARK_GRAFT_CPUS" -> "5")).cpus == 3)
    assert(!defaults.benchOutSet && defaults.benchMode == "cold")
    val out = GraftConfig.fromEnv(Map("SPARK_GRAFT_BENCH_OUT" -> "/x.json"))
    assert(out.benchOutSet && out.benchOut == "/x.json")
  }

  test("a GraftSession.builder session carries the fixed engine settings") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "2")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "1024")
  }

  test("generate, release and bench JSON lines stay valid with a quote and a backslash") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    val nasty = "a \"b\"\\c"
    val gen = mapper.readTree(graft.jobs.GenerateDataJob.doneLine(10L, 2, nasty))
    assert(gen.get("path").asText == nasty && gen.get("rows").asLong == 10L &&
      gen.get("files").asInt == 2)
    val rule = mapper.readTree(graft.jobs.ReleaseJob.contractLine(nasty, 3L, pass = false))
    assert(rule.get("rule").asText == nasty && rule.get("violations").asLong == 3L &&
      !rule.get("pass").asBoolean)
    val rel = mapper.readTree(graft.jobs.ReleaseJob.committedLine(7L, Seq(nasty, "ok")))
    assert(rel.get("version").asLong == 7L &&
      rel.get("advisory_failures").get(0).asText == nasty &&
      rel.get("advisory_failures").get(1).asText == "ok")
    val bench = mapper.readTree(Bench.metricLine(Seq(
        Bench.QueryResult(nasty, Some(1.5), 1, Seq(1.5, 2.0), 250L),
        Bench.QueryResult("q2_dead", None, 3, Nil, 0L)),
      reps = 3, mode = "cold", nWarmed = 0, sfDir = nasty))
    assert(bench.get("sf").asText == nasty && bench.get("order").asText == "lex")
    assert(bench.get("value").asDouble == 1.5 && bench.get("mode").asText == "cold")
    assert(bench.get("queries").get(nasty).asDouble == 1.5 &&
      bench.get("queries").get("q2_dead").isNull)
    assert(bench.get("failed").get(0).asText == "q2_dead" &&
      bench.get("flaky").get(nasty).asInt == 1)
    assert(bench.get("run_pos").get("q2_dead").asInt == 1 &&
      bench.get("gc_sec").get(nasty).asDouble == 0.25 &&
      bench.get("reps_sec").get(nasty).get(1).asDouble == 2.0)
  }

  test("tolerant mode: a failing merge logs and returns zero counts (mongo.py:148-159)") {
    val dir = Files.createTempDirectory("graft_tolerant").toString
    // updatesPath doesn't exist -> read fails inside the merge action
    val stats = BulkUpdateJob.run(spark, s"$dir/missing", s"$dir/collection",
      None, tolerant = true)
    assert(stats == graft.sinks.MergeSink.MergeStats(0, 0, 0))
    intercept[Exception] {
      BulkUpdateJob.run(spark, s"$dir/missing", s"$dir/collection", None, tolerant = false)
    }
  }

  test("the update job's failure and summary lines are valid JSON, hostile text included") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    val msg = "no such path \"x\\y\"\n\tat line 2"
    val fail = mapper.readTree(BulkUpdateJob.failureLine(new IllegalStateException(msg)))
    assert(fail.get("stage").asText == "update" && fail.get("status").asText == "failed")
    assert(fail.get("error").asText == "IllegalStateException")
    assert(fail.get("message").asText == msg)
    assert(mapper.readTree(BulkUpdateJob.failureLine(new RuntimeException()))
      .get("message").isNull)
    // the line the tolerant path really prints
    val dir = Files.createTempDirectory("graft_tolerant_line").toString
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try BulkUpdateJob.run(spark, s"$dir/missing \"q\"", s"$dir/collection", None,
      tolerant = true)
    finally System.setErr(err)
    val printed = buf.toString("UTF-8").linesIterator
      .filter(_.startsWith("{\"stage\":\"update\"")).toSeq
    assert(printed.size == 1, buf.toString("UTF-8"))
    val j = mapper.readTree(printed.head)
    assert(j.get("status").asText == "failed" && j.get("message").asText.contains("missing \"q\""),
      printed.head)
    val ok = mapper.readTree(BulkUpdateJob.summaryLine(graft.sinks.MergeSink.MergeStats(3, 2, 1)))
    assert(ok.get("status").asText == "success" && ok.get("n_matched").asLong == 3 &&
      ok.get("n_modified").asLong == 2 && ok.get("n_upserted").asLong == 1)
  }

  test("GRAFT_MERGE_ORDER_COL flows through the statement boundary to the fold") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_ordercol").toString
    // duplicate _ids with different scores: the fold orders by score, so
    // the highest-score row's features win per key
    val a = SyntheticSource.generate(spark, 50, 1, seed = 9)
    val b = a.withColumn("score", col("score") + 10.0)
      .withColumn("feature_1", lit(777.0))
    SyntheticSource.write(a.unionByName(b), s"$dir/updates")
    val stats = BulkUpdateJob.run(spark, s"$dir/updates", s"$dir/snap",
      orderCol = Some("score"))
    assert(stats.nUpserted == 50, "duplicates fold to one row per key")
    val snap = spark.read.parquet(s"$dir/snap")
    assert(snap.count() == 50)
    assert(snap.filter(col("feature_1") === 777.0).count() == 50,
      "the last-in-score-order value must win")
  }

  test("stage events serialize hostile names to valid one-line JSON") {
    val e = graft.obs.StageMetrics.StageEvent(1, "a \"quoted\"\\path\nline2", "success",
      0.1, 2, 0L, 0L, 0L)
    val j = e.toJson
    assert(!j.contains('\n') && j.startsWith("{") && j.endsWith("}"), j)
    assert(j.contains("\\\"quoted\\\"") && j.contains("\\\\path") && j.contains("\\n"),
      s"quotes, backslashes and newlines must be escaped, got: $j")
  }

  test("batch/slice arithmetic maps to partition counts (test_parquet.py:84-123)") {
    // reference: n_batches = ceil(rows / batch_size); slices = ceil(batches / k)
    assert(SyntheticSource.batchCount(100, 10) == 10)
    assert(SyntheticSource.batchCount(101, 10) == 11)
    assert(SyntheticSource.batchCount(0, 10) == 0)
    assert(SyntheticSource.sliceCount(101, 10, 3) == 4) // ceil(11/3)
    // partition counts are the engine analog: repartition(n) yields n tasks
    val df = SyntheticSource.generate(spark, 95, 1, seed = 1).repartition(7)
    assert(df.rdd.getNumPartitions == 7)
  }

  test("statement boundary in the pipeline: all-null payload rows are dropped") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_stmt").toString
    val base = SyntheticSource.generate(spark, 100, 4, seed = 5)
    // null out every payload field on ids ending in 0..1 (~20 rows)
    val nulled = SyntheticSource.payloadFields.foldLeft(
      base.withColumn("kill", substring(col("_id"), -1, 1).isin("0", "1"))) {
      (d, f) => d.withColumn(f, when(col("kill"), lit(null)).otherwise(col(f)))
    }.drop("kill")
    SyntheticSource.write(nulled, s"$dir/updates")
    val killed = spark.read.parquet(s"$dir/updates")
      .filter(SyntheticSource.payloadFields.map(col(_).isNull).reduce(_ && _)).count()
    val stats = BulkUpdateJob.run(spark, s"$dir/updates", s"$dir/collection")
    assert(stats.nUpserted == 100 - killed,
      "rows with nothing to $set must be dropped at the statement boundary")
  }
}
