package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hdfs.HdfsConfiguration
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.sinks.MergeSink
import graft.streaming.StreamingFold

/** Under [[GraftSession]] the SparkContext's Hadoop configuration holds
  * no YARN or MapReduce default that a write does not read
  * ([[GraftExtensions.leanHadoopConf]]), stays that way through reads,
  * writes, a stream and a new context, and a merge writes the same files
  * as under the full configuration. */
class LeanHadoopConfSpec extends SparkSpec {

  private def bundled(resource: String): Set[String] = {
    val c = new Configuration(false)
    c.addResource(resource)
    c.iterator.asScala.map(_.getKey).toSet
  }
  private lazy val yarnDefaults = bundled("yarn-default.xml")
  private lazy val mapredDefaults = bundled("mapred-default.xml")
  private lazy val coreDefaults = bundled("core-default.xml")

  private def keys(conf: Configuration): Set[String] =
    conf.iterator.asScala.map(_.getKey).toSet

  private def assertLean(session: SparkSession, when: String): Unit = {
    val conf = session.sparkContext.hadoopConfiguration
    val present = keys(conf)
    val yarn = yarnDefaults & present
    assert(yarn.isEmpty, s"$when: yarn-default keys present: ${yarn.take(5)}")
    val mapred = (mapredDefaults -- coreDefaults) & present
    assert(mapred.forall(k => k.startsWith("mapreduce.output.") || k.contains("committer")),
      s"$when: mapred-default keys present: ${mapred.take(5)}")
    val missing = (coreDefaults ++ Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl",
      "mapreduce.fileoutputcommitter.algorithm.version")) -- present
    assert(missing.isEmpty, s"$when: keys missing: ${missing.take(5)}")
    assert(conf.get("fs.file.impl") == "graft.hadoop.NioLocalFileSystem")
  }

  test("a GraftSession's Hadoop configuration has no YARN or MapReduce default it never reads") {
    spark.range(1).count()
    assert(yarnDefaults.size > 100 && mapredDefaults.size > 100 && coreDefaults.size > 100,
      "the bundled default files no longer load; the spec lost its baseline")
    assertLean(spark, "at session start")
    val kept = mapredDefaults.filter(k => k.startsWith("mapreduce.output.") || k.contains("committer"))
    assert(kept.nonEmpty && kept.subsetOf(keys(spark.sparkContext.hadoopConfiguration)))
  }

  test("still lean after a parquet read, a parquet write and a StreamingFold.drain") {
    val base = Files.createTempDirectory("graft_lean_").toString
    spark.range(20).write.parquet(s"$base/t")
    assertLean(spark, "after a parquet write")
    assert(Parquets.read(spark, s"$base/t").count() == 20)
    assertLean(spark, "after a parquet read")
    val schema = StructType(Seq(StructField("id", LongType)))
    StreamingFold.land(spark.range(5).toDF(), s"$base/arrivals", "f_0.parquet")
    var rows = 0L
    StreamingFold.drain(StreamingFold.files(spark, schema, s"$base/arrivals"),
        s"$base/ckpt", "lean") { (batch, _) =>
      rows += batch.count()
      Seq("rows" -> rows)
    }
    assert(rows == 5)
    assertLean(spark, "after a StreamingFold.drain")
  }

  test("stays lean when the HDFS and MapReduce configuration classes are used") {
    // each registers default resources on first use, and a registration
    // reloads every Configuration made with defaults
    HdfsConfiguration.init()
    new HdfsConfiguration()
    new JobConf()
    assertLean(spark, "after HdfsConfiguration and JobConf")
  }

  test("a mergeInto round writes the same rows and dictionary pages as under the full configuration") {
    val key = "_id"
    val fields = (1 to 3).map(i => s"feature_$i")
    val base = Files.createTempDirectory("graft_lean_merge_").toString
    def batch(name: String, from: Long, n: Long, seed: Long): String = {
      val p = s"$base/$name"
      spark.range(from, from + n)
        .select(sha2(col("id").cast("string"), 256).as(key) +:
          fields.zipWithIndex.map { case (f, i) =>
            when(rand(seed * 10 + i) < 0.2, lit(null)).otherwise(round(rand(seed + i) * 4))
              .as(f) }: _*)
        .write.parquet(p)
      p
    }
    val batches = Seq(batch("b0", 0, 3000, 1), batch("b1", 2500, 1000, 2))
    def merged(target: String): (Seq[String], Map[String, Boolean]) = {
      batches.foreach(b => MergeSink.mergeInto(spark, target, Parquets.read(spark, b), key, fields))
      val rows = Parquets.read(spark, target).drop("updatedAt").collect()
        .map(_.toSeq.mkString(",")).toSeq.sorted
      (rows, MergeReuseSpec.dictionaryPages(spark, target))
    }
    val lean = merged(s"$base/lean")
    val conf = spark.sparkContext.hadoopConfiguration
    val full =
      try {
        conf.reloadConfiguration() // every bundled default back
        assert(yarnDefaults.subsetOf(keys(conf)), "the full configuration did not come back")
        merged(s"$base/full")
      } finally GraftExtensions.leanHadoopConf(conf)
    assertLean(spark, "after the full-configuration merge")
    assert(lean._1.size == 3500)
    assert(lean._1 == full._1, "rows differ between the lean and the full configuration")
    assert(lean._2 == full._2, s"dictionary pages differ: ${lean._2} vs ${full._2}")
  }

  test("a second session on a new context is lean too") {
    spark.stop()
    val next = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    assert(next.sparkContext ne spark.sparkContext)
    next.range(1).count()
    assertLean(next, "on a new context")
  }
}
