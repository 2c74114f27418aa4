package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftConfig, GraftSession, Jsons, Parquets}
import graft.obs.StageMetrics
import graft.sinks.MergeSink
import graft.sources.SyntheticSource
import graft.update.Statements

/** CLI: the bulk-update pipeline (reference: src/cli/mongo_update.py +
  * src/func/job.py). Reads an updates directory with the explicitly
  * declared reference schema (schema-on-read validation, parquet.py:39),
  * builds upsert statements through the statement boundary (null-key /
  * empty-set guard ladder, mongo.py:28-100), and merges them into a keyed
  * parquet snapshot with upsert semantics. The sink reads columns, so
  * the boundary hands it the statements in column form
  * ([[Statements.widen]]: key, one double column per field, the order
  * column) rather than as `(key, set_fields)` maps: scan → statements
  * is one codegen'd filter + projection ahead of the fold's one sort.
  *
  * The reference's batch_size/concurrent_tasks knobs (mongo_update.py:26-42)
  * bounded rows-in-memory and write fan-out; in Spark both collapse into
  * partitioning — `numPartitions` controls parallelism and per-task memory,
  * and the whole pipeline is one lazy plan (scan → statements → merge →
  * write) instead of the reference's sequential slice loop (job.py:72-87).
  *
  * Error containment: `tolerant = true` mirrors the reference's
  * drop-batch-and-continue policy (mongo.py:148-159) — a failed merge logs
  * a structured error and returns zero counts instead of failing the job.
  * Default is fail-fast (the right default for a set-oriented engine,
  * where a failed merge means the snapshot swap never happened).
  *
  * Usage: BulkUpdateJob <updatesPath> <targetPath> [numPartitions]
  */
object BulkUpdateJob {

  def run(spark: SparkSession, updatesPath: String, targetPath: String,
          numPartitions: Option[Int] = None,
          tolerant: Boolean = false,
          orderCol: Option[String] = None): MergeSink.MergeStats = {
    try {
      MergeSink.mergeInto(spark, targetPath,
        statements(spark, updatesPath, numPartitions, orderCol),
        SyntheticSource.idColumn, SyntheticSource.payloadFields,
        orderCol = orderCol)
    } catch {
      case e: Exception if tolerant =>
        System.err.println(failureLine(e))
        MergeSink.MergeStats(0, 0, 0)
    }
  }

  /** The statement boundary (reference mongo.py:28-100) over the updates
    * directory: null keys and all-null payload rows drop HERE, before the
    * sink, and the kept rows are already in sink shape (key, double
    * fields, `orderCol`); a null field is null-skipped by the merge's
    * coalesce. */
  private[graft] def statements(spark: SparkSession, updatesPath: String,
                                numPartitions: Option[Int],
                                orderCol: Option[String]): DataFrame = {
    val raw = Parquets.withSchema(spark, SyntheticSource.schema, Seq(updatesPath))
    val updates = numPartitions.fold(raw)(n => raw.repartition(n, raw(SyntheticSource.idColumn)))
    Statements.widen(updates, SyntheticSource.idColumn,
      SyntheticSource.payloadFields, passthrough = orderCol.toSeq)
  }

  /** One `{"stage":"update","status":…}` event line; `fields` values are
    * JSON literals, every string goes through [[Jsons.quote]]. */
  private def eventLine(status: String, fields: (String, String)*): String =
    (("stage" -> Jsons.quote("update")) +: ("status" -> Jsons.quote(status)) +: fields)
      .map { case (k, v) => s"${Jsons.quote(k)}:$v" }
      .mkString("{", ",", "}")

  /** The tolerant path's error line: exception class and message. */
  private[graft] def failureLine(e: Throwable): String =
    eventLine("failed",
      "error" -> Jsons.quote(e.getClass.getSimpleName),
      "message" -> Option(e.getMessage).map(Jsons.quote).getOrElse("null"))

  /** The job summary line: the merge's reference-shaped counts. */
  private[graft] def summaryLine(stats: MergeSink.MergeStats): String =
    eventLine("success",
      "n_matched" -> stats.nMatched.toString,
      "n_modified" -> stats.nModified.toString,
      "n_upserted" -> stats.nUpserted.toString)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BulkUpdateJob <updatesPath> <targetPath> [numPartitions]")
    val cfg = GraftConfig.fromEnv()
    val spark = GraftSession.getOrCreate()
    val (stats, stages) = StageMetrics.withStageMetrics(spark) {
      run(spark, args(0), args(1), args.lift(2).map(_.toInt),
        tolerant = cfg.tolerant, orderCol = cfg.mergeOrderCol)
    }
    // per-stage structured events (reference log.py dict logs + per-slice
    // timings mongo.py:243-267), then the job summary line
    stages.foreach(e => println(e.toJson))
    println(summaryLine(stats))
    spark.stop()
  }
}
