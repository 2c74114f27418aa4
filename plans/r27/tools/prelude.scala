// Per-step driver accounting of one upsert round (warm, medians).
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import graft._, graft.sinks.MergeSink, graft.jobs.BulkUpdateJob, graft.sources.SyntheticSource
spark.stop()
val s = GraftSession.builder("local[4]", 4).getOrCreate()
s.sparkContext.setLogLevel("WARN")
val in = sys.env("ACCT_INPUT"); val work = sys.env("ACCT_WORK")
val target = s"$work/state"
BulkUpdateJob.run(s, s"$in/base", target)
val key = SyntheticSource.idColumn; val fields = SyntheticSource.payloadFields
def method(obj: AnyRef, name: String) = obj.getClass.getMethods.find(_.getName == name).get
val stm = method(BulkUpdateJob, "statements")
def timed[T](f: => T): (T, Double) = { val t0 = System.nanoTime; val r = f; (r, (System.nanoTime - t0) / 1e6) }
def evolved(t: DataFrame) = t.columns.toSeq.filterNot(c => c == key || c == "updatedAt") ++
  fields.filterNot(t.columns.contains)
def median(xs: Seq[Double]) = { val v = xs.sorted; v(v.size / 2) }
def report(names: Seq[String], rows: Seq[Seq[Double]]): Unit = {
  names.zipWithIndex.foreach { case (n, i) => println(f"ACCT $n%-28s ${median(rows.map(_(i)))}%8.2f ms") }
  println(f"ACCT ${"sum"}%-28s ${median(rows.map(_.sum))}%8.2f ms")
  val hc = s.sparkContext.hadoopConfiguration
  val bos = new java.io.ByteArrayOutputStream(); hc.write(new java.io.DataOutputStream(bos))
  val t0 = System.nanoTime; (0 until 20).foreach { _ =>
    val b = new java.io.ByteArrayOutputStream(); hc.write(new java.io.DataOutputStream(b)) }
  val ser = (System.nanoTime - t0) / 20e6
  val bytes = bos.toByteArray
  val t1 = System.nanoTime; (0 until 20).foreach { _ =>
    val c = new org.apache.hadoop.conf.Configuration(false)
    c.readFields(new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))) }
  val de = (System.nanoTime - t1) / 20e6
  println(f"ACCT hadoop conf: ${hc.size} keys, ${bytes.length / 1024.0}%.1f KB, serialize $ser%.2f ms, deserialize $de%.2f ms")
}
