package graft.jobs

import graft.{GraftSession, Jsons}
import graft.sources.SyntheticSource

/** CLI: synthetic parquet generator (reference: src/cli/generate_data.py
  * entry, setup.py:17). One distributed job; file count via repartition.
  *
  * Usage: GenerateDataJob <path> [nRows=10000] [nFiles=10] [seed=42] [nullFraction=0.0]
  * (reference defaults: 10 batches x 1000 rows, generate_data.py:104-117)
  */
object GenerateDataJob {
  /** The job's one JSON line; the output path is escaped. */
  private[graft] def doneLine(nRows: Long, nFiles: Int, path: String): String =
    s"""{"stage":"generate","status":"success","rows":$nRows,"files":$nFiles,""" +
      s""""path":${Jsons.quote(path)}}"""

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(sys.error("usage: GenerateDataJob <path> [nRows] [nFiles] [seed] [nullFraction]"))
    val nRows = args.lift(1).map(_.toLong).getOrElse(10000L)
    val nFiles = args.lift(2).map(_.toInt).getOrElse(10)
    val seed = args.lift(3).map(_.toLong).getOrElse(42L)
    val nullFraction = args.lift(4).map(_.toDouble).getOrElse(0.0)
    val spark = GraftSession.getOrCreate()
    SyntheticSource.write(
      SyntheticSource.generate(spark, nRows, nFiles, seed, nullFraction), path)
    println(doneLine(nRows, nFiles, path))
    spark.stop()
  }
}
