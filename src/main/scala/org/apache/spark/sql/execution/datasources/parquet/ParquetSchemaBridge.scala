package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, NoopCache}
import org.apache.spark.sql.types.StructType

/** Driver-side stand-in for Spark's parquet schema inference. A
  * schema-less `spark.read.parquet` ends in
  * `SchemaMergeUtils.mergeSchemasInParallel`, which always runs a Spark
  * job, even for the single footer it reads when `mergeSchema` is off.
  * This bridge reads that same footer on the driver with Spark's own
  * pieces: `InMemoryFileIndex` for the listing (hidden-file rule,
  * partition discovery, `basePath`), `ParquetUtils.inferSchema`'s file
  * choice, and the `private[parquet]` footer reader and converter, hence
  * this package. Used by [[graft.Parquets]] only. */
object ParquetSchemaBridge {

  /** The schema `spark.read.options(options).parquet(paths: _*)` would
    * infer, or None where the driver does not stand in for Spark: a
    * glob, `mergeSchema` (option or session conf), or no leaf file (no
    * path, a missing path or an empty dir). */
  def inferOnDriver(spark: SparkSession, paths: Seq[String],
                    options: Map[String, String]): Option[StructType] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val roots = paths.map(new Path(_))
    if (roots.exists(SparkHadoopUtil.get.isGlobPath) ||
        new ParquetOptions(options, session.sessionState.conf).mergeSchema) return None
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val qualified = roots.map(p => p.getFileSystem(hadoopConf).makeQualified(p))
    val leaves = new InMemoryFileIndex(session, qualified, options, None, NoopCache)
      .allFiles().sortBy(_.getPath.toString)
    // ParquetUtils.inferSchema without mergeSchema: the first
    // _common_metadata, else the first _metadata, else the first data file
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val summary = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    named(PARQUET_COMMON_METADATA_FILE)
      .orElse(named(PARQUET_METADATA_FILE))
      .orElse(leaves.find(f => !summary(f.getPath.getName)))
      .flatMap { file =>
        val ignoreCorrupt = new FileSourceOptions(options).ignoreCorruptFiles
        ParquetFileFormat.readSchema(
          ParquetFileFormat.readParquetFootersInParallel(hadoopConf, Seq(file), ignoreCorrupt),
          session)
      }
  }
}
