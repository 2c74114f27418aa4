package org.apache.spark.sql.execution.datasources.parquet

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, HadoopFsRelation, InMemoryFileIndex, NoopCache}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Driver-side stand-in for Spark's parquet open. `spark.read.parquet`
  * lists the paths once to infer the schema, which ends in
  * `SchemaMergeUtils.mergeSchemasInParallel` and always runs a Spark job,
  * then checks every path in a thread pool and lists them all again in
  * `DataSource.resolveRelation`. This bridge lists once, with Spark's own
  * `InMemoryFileIndex` (hidden-file rule, partition discovery,
  * `basePath`), reads the one footer `ParquetUtils.inferSchema` would pick
  * with the session's Hadoop configuration and the `private[parquet]`
  * converter (hence this package), and builds the `HadoopFsRelation`
  * `resolveRelation` builds from that same index. Used by
  * [[graft.Parquets]] only. */
object ParquetSchemaBridge {

  /** What one open found. */
  sealed trait Open
  /** The relation, and the footer of its first data file by sorted path
    * when it was asked for and could be read. */
  final case class Opened(df: DataFrame, footer: Option[ParquetMetadata]) extends Open
  /** No root holds a leaf file: every path is missing or empty. */
  case object NoLeafFile extends Open
  /** Spark's own read stands: a glob, `mergeSchema` without a schema, a
    * streaming sink's output (read through its `_spark_metadata` log), a
    * root with no leaf file next to roots with some (Spark fails on a
    * missing one), or a footer that cannot be read. */
  case object SparkRead extends Open

  /** The relation `spark.read.options(options)[.schema(schema)]
    * .parquet(paths: _*)` resolves to, from one listing and at most one
    * footer read (two when a summary file carries the schema and the
    * data footer is asked for too). */
  def open(spark: SparkSession, paths: Seq[String], options: Map[String, String],
           schema: Option[StructType], withFooter: Boolean): Open = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val roots = paths.map(new Path(_))
    if (roots.exists(SparkHadoopUtil.get.isGlobPath) ||
        (schema.isEmpty && new ParquetOptions(options, sqlConf).mergeSchema)) return SparkRead
    // Spark's reader passes a single path as the `path` option
    val dsOptions =
      if (!sqlConf.legacyPathOptionBehavior && paths.length == 1) options + ("path" -> paths.head)
      else options
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(dsOptions)
    val qualified = roots.map { p =>
      val fs = p.getFileSystem(hadoopConf)
      p.makeQualified(fs.getUri, fs.getWorkingDirectory)
    }
    val index = new InMemoryFileIndex(session, qualified, dsOptions, schema, NoopCache)
    val leaves = index.allFiles().sortBy(_.getPath.toString)
    if (leaves.isEmpty) return NoLeafFile
    // asked only of a path that holds files: on a missing one Spark's
    // check logs a warning
    if (FileStreamSink.hasMetadata(paths, hadoopConf, sqlConf)) return SparkRead
    if (qualified.size > 1) {
      val rootSet = qualified.toSet
      val holding = mutable.HashSet.empty[Path]
      leaves.foreach { f =>
        var p = f.getPath
        while (p != null && !rootSet(p)) p = p.getParent
        if (p != null) holding += p
      }
      if (holding.size < rootSet.size) return SparkRead
    }

    // row-group metadata only where the caller asked for the footer
    def footerOf(st: FileStatus, rowGroups: Boolean): Option[ParquetMetadata] =
      try Some(ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, hadoopConf),
        if (rowGroups) ParquetMetadataConverter.NO_FILTER
        else ParquetMetadataConverter.SKIP_ROW_GROUPS))
      catch { case NonFatal(_) => None }
    // ParquetUtils.inferSchema without mergeSchema: the first
    // _common_metadata, else the first _metadata, else the first data file
    val summary = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val dataFile = leaves.find(f => !summary(f.getPath.getName))
    val schemaFile = named(PARQUET_COMMON_METADATA_FILE)
      .orElse(named(PARQUET_METADATA_FILE)).orElse(dataFile)
    val oneFooter = withFooter && schemaFile == dataFile
    val schemaFooter = schema match {
      case Some(_) => None
      case None => footerOf(schemaFile.get, oneFooter) match {
        case None => return SparkRead
        case found => found
      }
    }
    val footer =
      if (!withFooter) None
      else if (schemaFooter.isDefined && oneFooter) schemaFooter
      else dataFile.flatMap(footerOf(_, rowGroups = true))

    // DataSource.resolveRelation over the one index
    val partitionSchema = index.partitionSchema
    val dataSchema = schema match {
      case Some(s) =>
        StructType(s.filterNot(f => partitionSchema.exists(p => sqlConf.resolver(p.name, f.name))))
      case None =>
        ParquetFileFormat.readSchema(Seq(new Footer(schemaFile.get.getPath, schemaFooter.get)),
          session).get
    }
    val format = new ParquetFileFormat()
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema.asNullable, None,
      format, CaseInsensitiveMap(dsOptions))(session)
    SchemaUtils.checkSchemaColumnNameDuplication(relation.dataSchema, sqlConf.resolver)
    SchemaUtils.checkSchemaColumnNameDuplication(relation.partitionSchema, sqlConf.resolver)
    DataSourceUtils.verifySchema(format, relation.dataSchema, true)
    Opened(session.baseRelationToDataFrame(relation), footer)
  }
}
