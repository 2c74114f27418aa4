val dict = method(MergeSink, "dictionaryOptions")
val rows = (0 until 60).map { i =>
  val batch = f"$in/batch_${i % 20}%04d"
  val (upd, t1) = timed(stm.invoke(BulkUpdateJob, s, batch, None, None).asInstanceOf[DataFrame])
  val (uniq, t2) = timed(MergeSink.collapseUpdates(upd.filter(col(key).isNotNull), key, fields, None))
  val (tgt, t3) = timed {
    val p = new org.apache.hadoop.fs.Path(target); val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p) && fs.listStatus(p).nonEmpty); Parquets.read(s, target) }
  val (merged, t4) = timed(MergeSink.mergePlanObserved(tgt, uniq, key, evolved(tgt))._1)
  val (_, t5) = timed(dict.invoke(MergeSink, s.sparkContext.hadoopConfiguration,
    Seq(new org.apache.hadoop.fs.Path(target)), key))
  val (_, t6) = timed(merged.queryExecution.optimizedPlan)
  val (_, t7) = timed(merged.queryExecution.executedPlan)
  Seq(t1, t2, t3, t4, t5, t6, t7)
}.drop(20)
report(Seq("statements", "collapseUpdates", "open target", "merge plan (join/observe/select)",
  "dictionaryOptions", "optimizer", "physical planning"), rows)
System.exit(0)
