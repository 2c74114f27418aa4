package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.Jsons

/** The one streaming fold driver: drain a stream batch by batch into a
  * batch-only ingest through `foreachBatch` — the reference pipeline's
  * loop (take a batch, build its upserts, bulk-write it) with a landing
  * directory as the batch source. Every streaming gate is a harness
  * that [[land]]s its arrival files, opens them with [[files]] and
  * hands its ingest to [[drain]].
  *
  * Delivery contract: `foreachBatch` is at-least-once — a failed or
  * restarted query re-delivers a whole batch under the same batchId.
  * Ingests that fold into additive state pass `s"batch_$batchId"` as
  * the [[graft.sinks.LedgeredState]] ledger id, which commits
  * ATOMICALLY with the state, so whole-batch replays are ledger no-ops.
  * Row duplicates across files are a different fault: additive state
  * has no row identity to anti-join on, so a document landed twice in
  * two files counts twice, and a source that can double-land rows must
  * dedup upstream (q57's stream dedup, or the q65 index) before such an
  * ingest. Keyed, watermarked and monotone states absorb more; each
  * gate's ingest says what it absorbs and what order it needs.
  *
  * Scale: the driver holds no streaming state of its own — memory is
  * one micro-batch, and the corpus-sized state lives wherever the
  * ingest keeps it, never in stream memory. */
object StreamingFold {

  /** One landed file per micro-batch: a gate's batch count is the
    * number of files it landed, and a batch never holds two days. */
  private val FilesPerBatch = 1

  /** The documents fixture's columns; a gate that lands documents
    * streams the ones it lands through [[docColumns]]. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def docColumns(names: String*): StructType =
    StructType(names.map(docSchema(_)))

  /** A file stream over `dir`, one file per micro-batch (file sources
    * cannot infer a schema, so the caller declares it). */
  def files(spark: SparkSession, schema: StructType, dir: String,
            format: String = "parquet"): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", FilesPerBatch).format(format).load(dir)

  /** Run `source` to the end of what is available now, one `ingest`
    * call per micro-batch, then stop. A rerun on the same checkpoint
    * resumes after the last committed batch. An exception from `ingest`
    * fails the query and is rethrown here (wrapped in Spark's
    * `StreamingQueryException`); the query is stopped either way. Each
    * batch prints one JSON event line: stage, batch id, the ingest's
    * wall seconds and the counters `ingest` returns. */
  def drain(source: DataFrame, checkpointDir: String, stage: String)(
      ingest: (DataFrame, Long) => Seq[(String, Long)]): Unit = {
    val q = source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val t0 = System.nanoTime()
        val counters = ingest(batch, batchId)
        println(event(stage, batchId, (System.nanoTime() - t0) / 1e9, counters))
      }
      .start()
    try q.awaitTermination()
    finally if (q.isActive) q.stop()
  }

  /** The counter a ledgered ingest reports: 1 when the batch folded, 0
    * when the ledger had already absorbed it (a replay). */
  def applied(folded: Boolean): Seq[(String, Long)] =
    Seq("applied" -> (if (folded) 1L else 0L))

  private def event(stage: String, batchId: Long, batchS: Double,
                    counters: Seq[(String, Long)]): String =
    (Seq(s""""stage":${Jsons.quote(stage)}""", s""""batch":$batchId""",
        s""""batch_s":${math.round(batchS * 1000) / 1000.0}""") ++
      counters.map { case (k, v) => s"${Jsons.quote(k)}:$v" })
      .mkString("{", ",", "}")

  /** Stage `df` as ONE parquet file `arrivalsDir/fileName`: written
    * whole into a sibling directory, then renamed in, so a file stream
    * over `arrivalsDir` never sees a partial file and lands exactly one
    * batch for it. Files land in call order (the source reads oldest
    * first). */
  def land(df: DataFrame, arrivalsDir: String, fileName: String): Unit = {
    val arrivals = new Path(arrivalsDir)
    val fs = arrivals.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val stage = new Path(s"${arrivalsDir}_stage_$fileName")
    fs.mkdirs(arrivals)
    df.coalesce(1).write.parquet(stage.toString)
    val part = fs.globStatus(new Path(stage, "part-*.parquet"))(0).getPath
    fs.rename(part, new Path(arrivals, fileName))
    fs.delete(stage, true)
  }
}
