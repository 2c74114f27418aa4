package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hdfs.HdfsConfiguration
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.expressions.{DotProduct, NfcNormalize, SimhashWord, SortedIntersectSize, WinnowMd5, WinnowRk}

/** Session extensions (the public Catalyst plug-in point): registers the
  * engine's native expressions as SQL functions so `spark.sql("SELECT
  * graft_dot(a, b) ...")` resolves like a built-in, and trims the
  * SparkContext's Hadoop configuration to what the engine reads
  * ([[GraftExtensions.leanHadoopConf]]) whenever a session state is
  * built. Installed by [[GraftSession]] via `Builder.withExtensions`, or
  * by config `spark.sql.extensions=graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Integer-literal argument extraction shared by the winnow builders
    * (k and w parameterize generated code, so they must be literals). */
  private def intLit(fn: String)(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(
      s"$fn: $name must be an integer literal")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SparkSessionExtensions has no hook that runs when a session state
    // is built; the parser builder is the one builder Spark calls then
    // (eagerly, once per session state), and handing back Spark's own
    // parser costs no query anything
    ext.injectParser { (session, parser) =>
      GraftExtensions.leanHadoopConf(session.sparkContext.hadoopConfiguration)
      parser
    }
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 2, "graft_dot(arrayA, arrayB)")
        DotProduct(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName,
        "graft_sorted_intersect_size"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 2,
          "graft_sorted_intersect_size(sortedArrA, sortedArrB)")
        SortedIntersectSize(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow_rk"),
      new ExpressionInfo(classOf[WinnowRk].getName, "graft_winnow_rk"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 3, "graft_winnow_rk(text, k, w)")
        val lit = intLit("graft_winnow_rk") _
        WinnowRk(args(0), lit(args(1), "k"), lit(args(2), "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow_md5"),
      new ExpressionInfo(classOf[WinnowMd5].getName, "graft_winnow_md5"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        // NOTE: like graft_winnow_rk, the text argument is hashed as
        // given — lower() it at the call site to match the oracle form
        require(args.length == 3, "graft_winnow_md5(lower(text), k, w)")
        val lit = intLit("graft_winnow_md5") _
        WinnowMd5(args(0), lit(args(1), "k"), lit(args(2), "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 1, "graft_nfc(text)")
        NfcNormalize(args(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash_word"),
      new ExpressionInfo(classOf[SimhashWord].getName, "graft_simhash_word"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 1, "graft_simhash_word(hashArray)")
        SimhashWord(args(0))
      }))
  }
}

object GraftExtensions {

  /** Drop from `conf` every key whose only source is Hadoop's bundled
    * yarn-default.xml, or mapred-default.xml except the
    * `mapreduce.output.*` and `*committer*` keys a parquet write reads.
    *
    * Every write task carries the session's Hadoop configuration
    * (Spark's `WriteJobDescription` ships it as a
    * `SerializableConfiguration`), and so does every file scan's
    * broadcast. With the bundled defaults it holds about 1,100 keys and
    * serializes to ~110 KB; the driver serializes it into each write
    * stage and each task deserializes it, 10–50 ms per stage that no
    * batch size changes. YARN and MapReduce keys are read by neither
    * Spark SQL nor the engine; a key dropped here reads as its code
    * default wherever a Hadoop class still asks for it.
    *
    * Kept: every core-default.xml key (filesystem wiring such as
    * `fs.AbstractFileSystem.<scheme>.impl` has no code default), and
    * every key Spark, the engine or the user set.
    *
    * Registering a new default resource reloads every `Configuration`
    * made with defaults, which would bring the dropped keys back
    * without a sign. Two classes register some on first use: `JobConf`
    * (the MapReduce and YARN default files) and `HdfsConfiguration`
    * (hdfs-default.xml and hdfs-site.xml, the first time an `hdfs://`
    * filesystem is made). Both are initialized before the trim, so the
    * configuration stays lean whichever filesystem a job creates first;
    * where hdfs-default.xml is on the classpath its keys are kept. */
  private[graft] def leanHadoopConf(conf: Configuration): Unit = {
    new JobConf(false)
    HdfsConfiguration.init()
    def onlyFrom(k: String): Option[String] =
      Option(conf.getPropertySources(k)).collect { case Array(src) => src }
    val drop = conf.iterator.asScala.map(_.getKey).filter { k =>
      onlyFrom(k) match {
        case Some("yarn-default.xml") => true
        case Some("mapred-default.xml") =>
          !(k.startsWith("mapreduce.output.") || k.contains("committer"))
        case _ => false
      }
    }.toList
    drop.foreach(conf.unset)
  }
}
