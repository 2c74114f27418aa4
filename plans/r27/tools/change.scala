// The round as MergeSink.mergeInto builds it: the fold without its last
// projection (foldUpdates), the one-listing open, mergePlanObserved.
val dict = method(MergeSink, "dictionaryOptions")
val fold = MergeSink.getClass.getDeclaredMethods.find(_.getName == "foldUpdates").get
fold.setAccessible(true)
val rows = (0 until 60).map { i =>
  val batch = f"$in/batch_${i % 20}%04d"
  val (upd, t1) = timed(stm.invoke(BulkUpdateJob, s, batch, None, None).asInstanceOf[DataFrame])
  val (uniq, t2) = timed(fold.invoke(MergeSink, upd, key, fields, None).asInstanceOf[DataFrame])
  val (opened, t3) = timed(Parquets.open(s, Seq(target), footer = true).get)
  val tgt = opened.df
  val (merged, t4) = timed(MergeSink.mergePlanObserved(tgt, uniq, key, evolved(tgt))._1)
  val (_, t5) = timed(dict.invoke(MergeSink, opened.footer, key))
  val (_, t6) = timed(merged.queryExecution.optimizedPlan)
  val (_, t7) = timed(merged.queryExecution.executedPlan)
  Seq(t1, t2, t3, t4, t5, t6, t7)
}.drop(20)
report(Seq("statements", "collapseUpdates", "open target", "merge plan (join/observe/select)",
  "dictionaryOptions", "optimizer", "physical planning"), rows)
System.exit(0)
