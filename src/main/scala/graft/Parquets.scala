package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetSchemaBridge
import org.apache.spark.sql.types.StructType

/** Parquet opens at one listing and one footer, without a Spark job.
  * `spark.read.parquet` lists a directory twice (once to infer, once in
  * `DataSource.resolveRelation`), checks the paths in a thread pool, and
  * starts a one-task job to read one footer. Here the directory is listed
  * once with Spark's own `InMemoryFileIndex`, the footer Spark would pick
  * is read on the driver with the session's Hadoop configuration and
  * Spark's converter flags, and the relation is built from that same
  * listing. Schema, partition columns, rows and `inputFiles` are the ones
  * `spark.read[.schema(s)].parquet` gives. Every call lists and reads the
  * footer fresh, so a rewritten dir never serves a stale schema or file
  * list.
  *
  * Falls back to Spark's own read (its behaviour and errors) for a glob,
  * for `mergeSchema`, for a streaming sink's output, when no leaf file is
  * found, when one of several paths holds none, and when the footer cannot
  * be read. Every batch parquet read in the engine goes through here;
  * `ParquetsSpec` fails on a new one that does not. */
object Parquets {

  /** An opened relation and, when asked for, the footer of its first
    * data file by sorted path: the footer the open itself read, so a
    * caller never opens it again ([[graft.sinks.MergeSink.dictionaryOptions]]). */
  type Opened = ParquetSchemaBridge.Opened

  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  /** `spark.read.options(options).parquet(paths: _*)`. */
  def read(spark: SparkSession, paths: Seq[String],
           options: Map[String, String] = Map.empty): DataFrame =
    open(spark, paths, options).fold(sparkRead(spark, paths, options, None))(_.df)

  /** `spark.read.options(options).schema(schema).parquet(paths: _*)`: the
    * schema is pinned, no footer is read, and schema-on-read validation
    * happens in the scan as it does there. */
  def withSchema(spark: SparkSession, schema: StructType, paths: Seq[String],
                 options: Map[String, String] = Map.empty): DataFrame =
    open(spark, paths, options, Some(schema)).fold(sparkRead(spark, paths, options, Some(schema)))(_.df)

  /** One open: None when no path holds a leaf file (every path missing or
    * empty), where [[read]] hands over to Spark for its exception or
    * empty frame. `footer` asks for the first data file's footer; it is
    * None when the open fell back to Spark's own read or the file cannot
    * be read. */
  def open(spark: SparkSession, paths: Seq[String],
           options: Map[String, String] = Map.empty,
           schema: Option[StructType] = None,
           footer: Boolean = false): Option[Opened] =
    ParquetSchemaBridge.open(spark, paths, options, schema, footer) match {
      case opened: Opened => Some(opened)
      case ParquetSchemaBridge.NoLeafFile => None
      case ParquetSchemaBridge.SparkRead =>
        Some(ParquetSchemaBridge.Opened(sparkRead(spark, paths, options, schema), None))
    }

  private def sparkRead(spark: SparkSession, paths: Seq[String], options: Map[String, String],
                        schema: Option[StructType]): DataFrame = {
    val reader = spark.read.options(options)
    schema.fold(reader)(s => reader.schema(s)).parquet(paths: _*)
  }
}
