package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{ManifestMergeSink, MergeSink}

/** What one upsert round reuses from the last: the compiled result stage
  * (the `updatedAt` stamp is a referenced constant, not an inlined
  * literal) and the parquet-mr encoding decisions of the generation it
  * replaces (no dictionary built only to be abandoned). */
class MergeReuseSpec extends SparkSpec {

  private val key = "_id"
  private val fields = (1 to 5).map(i => s"feature_$i")

  /** `n` rows from key number `from` on: hex keys, uniform random
    * features, landed as parquet and read back (the shape a bulk-update
    * batch has). */
  private def batch(dir: String, name: String, from: Long, n: Long, seed: Long): DataFrame = {
    val p = s"$dir/$name"
    spark.range(from, from + n)
      .select(sha2(col("id").cast("string"), 256).as(key) +:
        fields.zipWithIndex.map { case (f, i) => rand(seed * 10 + i).as(f) }: _*)
      .write.parquet(p)
    Parquets.read(spark, p)
  }

  private def withDir[A](prefix: String)(body: String => A): A = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    try body(base.toString)
    finally new Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(base.toString), true)
  }

  private def dictionaryPages(dir: String): Map[String, Boolean] =
    MergeReuseSpec.dictionaryPages(spark, dir)

  test("a second same-shaped mergeInto compiles no class") {
    withDir("graft_merge_compile_") { dir =>
      val target = s"$dir/state"
      MergeSink.mergeInto(spark, target, batch(dir, "b0", 0, 4000, 1), key, fields)
      // the first merge into an existing target compiles its stages ...
      MergeSink.mergeInto(spark, target, batch(dir, "b1", 3700, 400, 2), key, fields)
      // ... and the next one, same shape and new values, reuses them
      val next = batch(dir, "b2", 3900, 400, 3)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiles.getCount
      val stats = MergeSink.mergeInto(spark, target, next, key, fields)
      assert(compiles.getCount - before == 0,
        "the merge stage must come from the codegen cache: a per-merge " +
          "value is being inlined into the generated source")
      assert(stats == MergeSink.MergeStats(200, 200, 200))
    }
  }

  test("merge generations skip only the dictionaries parquet-mr abandons") {
    withDir("graft_merge_dict_") { dir =>
      val target = s"$dir/state"
      // the footer the merge's own open of the target reads
      def replaced(p: String) = Parquets.open(spark, Seq(p), footer = true).flatMap(_.footer)
      MergeSink.mergeInto(spark, target, batch(dir, "b0", 0, 4000, 1), key, fields)
      // learned from the first generation: the key and the random features
      // had no dictionary page, the one-valued stamp had one
      val want = (key +: fields)
        .map(c => s"parquet.enable.dictionary#$c" -> "false").toMap
      assert(MergeSink.dictionaryOptions(replaced(target), key) == want)
      // a first write has only the key to go on
      assert(MergeSink.dictionaryOptions(replaced(s"$dir/none"), key) ==
        Map(s"parquet.enable.dictionary#$key" -> "false"))
      MergeSink.mergeInto(spark, target, batch(dir, "b1", 3000, 2000, 2), key, fields)
      val pages = dictionaryPages(target)
      for (c <- key +: fields) assert(!pages(c), s"$c must be stored without a dictionary")
      assert(pages("updatedAt"), "the two-valued stamp column keeps its dictionary")
    }
  }

  test("one stamp per merge; rows and counts equal the current_timestamp() form") {
    withDir("graft_merge_stamp_") { dir =>
      val target = s"$dir/state"
      MergeSink.mergeInto(spark, target, batch(dir, "b0", 0, 2000, 1), key, fields)
      val baseStamp = spark.read.parquet(target).select("updatedAt").distinct().collect()
      assert(baseStamp.length == 1)
      val t0 = System.currentTimeMillis()
      MergeSink.mergeInto(spark, target, batch(dir, "b1", 1500, 1000, 2), key, fields)
      val t1 = System.currentTimeMillis()
      val after = spark.read.parquet(target)
      val stamps = after.filter(col(key).isin(
          spark.read.parquet(s"$dir/b1").select(key).collect().map(_.getString(0)): _*))
        .select("updatedAt").distinct().collect().map(_.getTimestamp(0))
      assert(stamps.length == 1, "every touched row of one merge carries one stamp")
      assert(stamps.head.getTime >= t0 && stamps.head.getTime <= t1)
      assert(after.filter(col("updatedAt") === baseStamp.head.getTimestamp(0)).count() == 1500)

      val state = spark.read.parquet(target)
      val ups = MergeSink.collapseUpdates(batch(dir, "b2", 2000, 1000, 3), key, fields)
      val (now, nowObs) = MergeSink.mergePlanObserved(state, ups, key, fields)
      val (folded, foldedObs) = MergeSink.mergePlanObserved(state, ups, key, fields,
        now = current_timestamp())
      def rows(df: DataFrame) =
        df.select(col(key) +: fields.map(col) :+ col("updatedAt").isNull: _*)
          .collect().toSeq.sortBy(_.getString(0))
      assert(rows(now) == rows(folded))
      assert(MergeSink.statsOf(nowObs) == MergeSink.statsOf(foldedObs))
      assert(MergeSink.statsOf(nowObs) == MergeSink.MergeStats(500, 500, 500))
    }
  }

  test("the dictionary rule reads the replaced generation's footer, on both sink layouts") {
    // a column stored PLAIN in the replaced generation is written PLAIN
    // even where its new values would have kept a dictionary: the rule
    // learns from the footer, not from the new rows (MergeSink.dictionaryOptions)
    withDir("graft_merge_ratchet_") { dir =>
      val swapped = s"$dir/swapped"
      val manifested = s"$dir/manifested"
      val first = batch(dir, "b0", 0, 3000, 1)
      val repeat = Parquets.read(spark, s"$dir/b0").select(col(key) +:
        fields.map(f => lit(0.5).as(f)): _*)
      MergeSink.mergeInto(spark, swapped, first, key, fields)
      MergeSink.mergeInto(spark, swapped, repeat, key, fields)
      ManifestMergeSink.mergeIntoManifested(spark, manifested, first, key, fields, nBuckets = 2)
      ManifestMergeSink.mergeIntoManifested(spark, manifested, repeat, key, fields, nBuckets = 2)
      val onDisk = ManifestMergeSink.headState(spark, manifested).get._2.mapping.values.toSeq
      for ((layout, dirs) <- Seq(swapped -> Seq(swapped),
                                 manifested -> onDisk.map(d => s"$manifested/$d"))) {
        val pages = dirs.map(dictionaryPages)
        for (f <- fields; p <- pages) assert(!p(f), s"$layout: $f must stay PLAIN")
        for (p <- pages) assert(p("updatedAt"), s"$layout: updatedAt keeps its dictionary")
      }
    }
  }
}

object MergeReuseSpec {

  /** Column path → whether every chunk of it, in every data file under
    * `dir` (recursively), has a dictionary page. */
  def dictionaryPages(spark: SparkSession, dir: String): Map[String, Boolean] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(hconf)
    val files = fs.listFiles(new Path(dir), true)
    val chunks = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(st => st.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, hconf))
        try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        finally reader.close()
      }.toSeq
    assert(chunks.nonEmpty, s"no parquet chunk under $dir")
    chunks.groupBy(_.getPath.toDotString).map { case (c, cs) =>
      c -> cs.forall(_.hasDictionaryPage)
    }
  }
}
