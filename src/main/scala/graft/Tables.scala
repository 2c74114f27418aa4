package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders over the driver-generated parquet dirs
  * (`/root/testdata/sf*`). Mirrors the reference's dataset-over-a-directory
  * abstraction (reference: src/func/parquet.py:18-50) — but schema comes from
  * the parquet footers (driver-written, trusted) instead of a hand-declared
  * duplicate; explicit-schema validation is demonstrated in the parity
  * pipeline (see [[graft.jobs.BulkUpdateJob]]).
  *
  * Reads go through [[Parquets.read]], not a plain `spark.read.parquet`:
  * the footer schema is resolved on the driver and pinned with
  * `.schema(...)`, so a table open starts no Spark job. The scan is the
  * parquet relation `spark.read.parquet` would build, so Catalyst column
  * pruning and predicate pushdown reach it untouched.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquets.read(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** events.ts normalized to microsecond TimestampType regardless of how the
    * driver generated the fixture. Two physical encodings have been observed
    * across fixture generations:
    *  - parquet TIMESTAMP(NANOS): Spark's reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]) unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    *    [[graft.GraftSession]]), under which ts arrives as LongType nanos —
    *    truncate to µs, the same ns→µs truncation DuckDB applies;
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ — cast to TimestampType (identity on the stored micros
    *    under the session's UTC zone, which oracle parity pins).
    * Branching on the footer schema keeps every downstream query, oracle, and
    * streaming-parity gate byte-identical across generations. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
