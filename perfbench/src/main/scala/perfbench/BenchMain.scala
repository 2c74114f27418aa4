package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}
import graft.jobs.BulkUpdateJob

/** The benchmark's JVM half: one workload, one process, one client.
  *
  * Usage: `BenchMain <config.json> <result.json>`. The config (written by
  * `run.py`) names the workload, its generated input directory, the timed
  * seconds, the number of set-ups, the core count and the op list. The
  * loop is closed: the driver thread starts an op only after the previous
  * one returned. Only calls into the engine's public entry points are
  * timed — `GraftSession.builder`, `BulkUpdateJob.run`, and each
  * `SparkEntry.queries` function followed by a `noop` write, as
  * `graft.Bench` does.
  *
  * Phases: `setups` set-ups (fresh session + input load), an untimed warm
  * part whose outputs the Python side checks, then whole timed passes until
  * the seconds are used up (and at least `min_passes` of them). With
  * `trace` on, [[Tracer]] records jobs, stages, tasks, planning phases and
  * streaming progress per op. */
object BenchMain {
  private val mapper = new ObjectMapper()
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def filesUnder(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val s = java.nio.file.Files.walk(dir.toPath)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> p.toFile.length()).toMap
      finally s.close()
    }

  final class Config(m: java.util.Map[String, Any]) {
    def str(k: String): String = String.valueOf(m.get(k))
    def int(k: String): Int = m.get(k).asInstanceOf[Number].intValue
    val workload: String = str("workload")
    val input: String = str("input")
    val work: String = str("work")
    val seconds: Double = m.get("seconds").asInstanceOf[Number].doubleValue
    val trace: Boolean = m.get("trace") == true
    val setups: Int = int("setups")
    val cores: Int = int("cores")
    val queries: Seq[String] =
      Option(m.get("queries")).map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Nil)
  }

  /** One workload: what a set-up loads, what the warm pass checks, and the
    * op sequence of one timed pass. */
  trait Workload {
    def prepare(spark: SparkSession): JMap[String, Any]
    def warm(spark: SparkSession): JList[Any]
    /** The ops of timed pass `pass`; empty when inputs are exhausted. */
    def pass(pass: Int): Seq[(String, SparkSession => JMap[String, Any])]
    def trackedDir: Option[File] = None
  }

  final class Upsert(cfg: Config) extends Workload {
    private val target = s"${cfg.work}/target"
    private val nBatches = cfg.int("batches")
    private val nWarm = cfg.int("warm_batches")
    private def batch(i: Int) = f"${cfg.input}/batch_$i%04d"
    private def apply(spark: SparkSession, dir: String): JMap[String, Any] = {
      val s = BulkUpdateJob.run(spark, dir, target)
      obj("stats" -> Array(s.nMatched, s.nModified, s.nUpserted))
    }
    def prepare(spark: SparkSession): JMap[String, Any] = {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(target))
      apply(spark, s"${cfg.input}/base")
    }
    // as many rounds as the JIT needs to settle, each followed by the
    // same cache clear as a timed round
    def warm(spark: SparkSession): JList[Any] = {
      val out = new JList[Any]()
      (0 until nWarm).foreach { i =>
        val t0 = nowMs()
        val r = apply(spark, batch(i))
        spark.catalog.clearCache()
        r.put("batch", i); r.put("s", (nowMs() - t0) / 1e3)
        out.add(r)
      }
      out
    }
    def pass(p: Int): Seq[(String, SparkSession => JMap[String, Any])] = {
      val i = nWarm + p
      if (i >= nBatches) Nil
      else Seq("bulk_update" -> { (spark: SparkSession) =>
        val r = apply(spark, batch(i)); r.put("batch", i); r
      })
    }
    override def trackedDir: Option[File] = Some(new File(target))
  }

  final class Mix(cfg: Config) extends Workload {
    private val fns = cfg.queries.map(q => q -> SparkEntry.queries(q))
    def prepare(spark: SparkSession): JMap[String, Any] = {
      Tables.names.foreach(t =>
        Tables.load(spark, cfg.input, t).write.format("noop").mode("overwrite").save())
      obj()
    }
    def warm(spark: SparkSession): JList[Any] = {
      val out = new JList[Any]()
      fns.foreach { case (q, fn) =>
        val t0 = nowMs()
        val r = obj("name" -> q)
        try {
          fn(spark, cfg.input).coalesce(1).write.mode("overwrite")
            .parquet(s"${cfg.work}/out/$q")
          r.put("ok", true)
        } catch { case e: Throwable => r.put("ok", false); r.put("error", error(e)) }
        spark.catalog.clearCache()
        r.put("s", (nowMs() - t0) / 1e3)
        out.add(r)
      }
      // the layout tools/check_correctness.py reads: one dir per query
      // next to oracle_sql.json
      mapper.writeValue(new File(s"${cfg.work}/out/oracle_sql.json"),
        obj(cfg.queries.map(q => q -> SparkEntry.oracleSql(q)): _*))
      out
    }
    def pass(p: Int): Seq[(String, SparkSession => JMap[String, Any])] = fns.map {
      case (q, fn) => q -> { (spark: SparkSession) =>
        fn(spark, cfg.input).write.format("noop").mode("overwrite").save(); obj()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = new Config(mapper.readValue(new File(args(0)), classOf[java.util.Map[String, Any]]))
    val result = obj("workload" -> cfg.workload,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime)
    val workload: Workload = cfg.workload match {
      case "upsert" => new Upsert(cfg)
      case _ => new Mix(cfg)
    }

    // Set-ups: a fresh session through the engine's builder, then the
    // workload's input load; repeated so the median is not the cold JVM's.
    var spark: SparkSession = null
    val setups = new JList[Any]()
    (1 to cfg.setups).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = nowMs()
      spark = GraftSession.builder(master = s"local[${cfg.cores}]", shufflePartitions = cfg.cores)
        .config("spark.local.dir", s"${cfg.work}/spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val t1 = nowMs()
      val prep = workload.prepare(spark)
      val t2 = nowMs()
      prep.put("session_s", (t1 - t0) / 1e3)
      prep.put("setup_s", (t2 - t0) / 1e3)
      prep.put("end_ms", t2)
      setups.add(prep)
    }
    result.put("setups", setups)
    System.gc()
    result.put("warm", workload.warm(spark))

    val tracer = if (cfg.trace) Some(new Tracer) else None
    tracer.foreach(_.register(spark))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val ops = new JList[Any]()
    val deadline = nowMs() + cfg.seconds * 1e3
    val timedStart = nowMs()
    var passes = 0
    var exhausted = false
    // whole passes until the seconds are used up, and at least `min_passes`
    // of them, so a slow first pass cannot change how many passes a run has
    while ((nowMs() < deadline || passes < cfg.int("min_passes")) && !exhausted) {
      val pass = workload.pass(passes)
      if (pass.isEmpty) exhausted = true
      pass.foreach { case (name, op) =>
        val id = ops.size
        val before = if (cfg.trace) workload.trackedDir.map(filesUnder) else None
        tracer.foreach(_.current = id)
        spark.sparkContext.setLocalProperty(Tracer.OpKey, id.toString)
        val compiles0 = compiles.getCount
        val compileNs0 = CodeGenerator.compileTime
        val gc0 = gcMillis()
        val t0 = nowMs()
        val rec =
          try { val r = op(spark); r.put("ok", true); r }
          catch { case e: Throwable => obj("ok" -> false, "error" -> error(e)) }
        val t1 = nowMs()
        rec.put("gc_ms", gcMillis() - gc0)
        spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
        tracer.foreach { _ =>
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          rec.put("codegen_compiles", compiles.getCount - compiles0)
          rec.put("codegen_ns", CodeGenerator.compileTime - compileNs0)
        }
        before.foreach { b =>
          val after = filesUnder(workload.trackedDir.get)
          rec.put("files_written", after.keySet.diff(b.keySet).size)
        }
        rec.put("id", id); rec.put("name", name); rec.put("pass", passes)
        rec.put("start_ms", t0); rec.put("end_ms", t1)
        ops.add(rec)
        spark.catalog.clearCache()
      }
      if (!exhausted) passes += 1
    }
    result.put("timed_wall_s", (nowMs() - timedStart) / 1e3)
    result.put("passes", passes)
    result.put("ops", ops)
    workload.trackedDir.foreach(d => result.put("state_bytes", filesUnder(d).filter {
      case (p, _) => p.endsWith(".parquet") }.values.sum))
    // The listener bus and the ContextCleaner (which drops the blocks of
    // collected Datasets only after a GC enqueues them) both run
    // asynchronously: drain the one and give the other a second, so the
    // heap read is what the ops retain, not cleanup still in flight.
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    System.gc(); Thread.sleep(1000); System.gc(); System.gc()
    result.put("live_heap_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    tracer.foreach { t =>
      result.put("trace", obj(
        "jobs" -> t.jobs, "stages" -> t.stages.asJava, "tasks" -> t.tasks,
        "phases" -> t.phases, "progress" -> t.progress,
        "misattributed_jobs" -> t.misattributed))
    }
    spark.stop()
    mapper.writeValue(new File(args(1)), result)
  }
}
