package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetSchemaBridge

/** Schema-on-read parquet opens without a Spark job. A schema-less
  * `spark.read.parquet` starts a one-task job to read one footer; this
  * reads the footer Spark would pick on the driver, with Spark's own
  * listing, file choice and converter flags, and pins it with
  * `.schema(...)`. Schema, partition columns and rows are the ones
  * `spark.read.parquet` gives. Every call reads the footer fresh, so a
  * rewritten dir never serves a stale schema.
  *
  * Falls back to plain `spark.read.parquet` (Spark's own behaviour and
  * errors) for a glob, for `mergeSchema`, and when no leaf file is found.
  * Every schema-inferring parquet read in the engine goes through here;
  * `ParquetsSpec` fails on a new one that does not. */
object Parquets {
  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  def read(spark: SparkSession, paths: Seq[String],
           options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.options(options)
    ParquetSchemaBridge.inferOnDriver(spark, paths, options) match {
      case Some(schema) => reader.schema(schema).parquet(paths: _*)
      case None => reader.parquet(paths: _*)
    }
  }
}
