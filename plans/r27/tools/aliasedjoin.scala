// ColumnBridge.aliasedJoin against target.alias("t").join(updates.alias("u"), ...),
// alternating in one JVM. aliasedJoin exists only in commit f8e4dc6 (it was
// removed after this measurement), so this runs after prelude.scala against a
// checkout of that commit with the current MergeSink (its foldUpdates).
import org.apache.spark.sql.graft.ColumnBridge
val fold = MergeSink.getClass.getDeclaredMethods.find(_.getName == "foldUpdates").get
fold.setAccessible(true)
val rows = (0 until 80).map { i =>
  val batch = f"$in/batch_${i % 20}%04d"
  val upd = stm.invoke(BulkUpdateJob, s, batch, None, None).asInstanceOf[DataFrame]
  val uniq = fold.invoke(MergeSink, upd, key, fields, None).asInstanceOf[DataFrame]
  val tgt = Parquets.open(s, Seq(target), footer = false).get.df
  val on = col(s"t.$key") === col(s"u.$key")
  val plainFirst = i % 2 == 0
  def plain = timed(tgt.alias("t").join(uniq.alias("u"), on, "full_outer"))._2
  def bridged = timed(ColumnBridge.aliasedJoin(tgt, "t", uniq, "u", on, "full_outer"))._2
  if (plainFirst) { val a = plain; val b = bridged; Seq(a, b) } else { val b = bridged; val a = plain; Seq(a, b) }
}.drop(20)
println(f"AJ plain alias join  median ${median(rows.map(_(0)))}%.2f ms")
println(f"AJ aliasedJoin       median ${median(rows.map(_(1)))}%.2f ms")
println(f"AJ plain - bridged   median ${median(rows.map(r => r(0) - r(1)))}%.2f ms over ${rows.size} rounds")
System.exit(0)
