package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, UserTotals}

/** Structured Streaming behavior over the events schema (SURVEY.md §5.5):
  * incremental window aggregation, watermark late-data handling, session
  * windows, and flatMapGroupsWithState custom state — all driven through
  * MemoryStream with deterministic processAllAvailable barriers. */
class EventStreamsSpec extends SparkSpec {

  private def ts(minutes: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minutes / 60}%02d:${minutes % 60}%02d:00")

  private def ev(id: Long, minutes: Int, user: Long = 1L,
                 typ: String = "click", value: Double = 1.0): Event =
    Event(id, ts(minutes), user, typ, value, "{}")

  test("tumbling windows aggregate incrementally across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(in.toDF(), width = "1 hour")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(ev(1, 10), ev(2, 20), ev(3, 70))
      q.processAllAvailable()
      in.addData(ev(4, 30, value = 2.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling").collect()
        .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value")))
      // Update mode re-emits hour-0 after batch 2: latest state n=3, sum=4.0
      assert(rows.filter(_._1 == ts(0)).map(r => (r._2, r._3)).contains((3L, 4.0)))
      assert(rows.filter(_._1 == ts(60)).map(r => (r._2, r._3)).contains((1L, 1.0)))
    } finally q.stop()
  }

  test("watermark drops events later than the lateness horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(in.toDF(), width = "1 hour", lateness = "1 hour")
      .writeStream.format("memory").queryName("late")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 10), ev(2, 50))
      q.processAllAvailable()
      // advance watermark far past hour 0: max ts 5h - 1h lateness = 4h
      in.addData(ev(3, 300))
      q.processAllAvailable()
      // this event targets hour 0, now behind the watermark → dropped
      in.addData(ev(4, 30, value = 99.0))
      q.processAllAvailable()
      in.addData(ev(5, 400))
      q.processAllAvailable()
      val hour0 = spark.table("late").collect()
        .filter(_.getAs[Timestamp]("window_start") == ts(0))
      assert(hour0.length == 1, "hour-0 window must finalize exactly once")
      assert(hour0.head.getAs[Long]("n_events") == 2L,
        "the late event must not be counted")
      assert(hour0.head.getAs[Double]("sum_value") == 2.0)
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark repeats, keeps bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.dedupEvents(in.toDF(), lateness = "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 10), ev(1, 12), ev(2, 20)) // same-batch repeat of id 1
      q.processAllAvailable()
      in.addData(ev(1, 25)) // cross-batch repeat, still within the horizon
      q.processAllAvailable()
      val ids = spark.table("deduped").collect().map(_.getAs[Long]("event_id"))
      assert(ids.sorted.toSeq == Seq(1L, 2L), "each id must survive exactly once")
    } finally q.stop()
    // batch mode: same call degrades to plain dropDuplicates
    val batch = Seq(ev(7, 1), ev(7, 2), ev(8, 3)).toDF()
    assert(EventStreams.dedupEvents(batch).count() == 2)
  }

  test("session windows split on the inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // session-window aggregation supports Append (watermark-closed) or
    // Complete; Update is rejected — Complete keeps the test deterministic
    val q = EventStreams.sessionize(in.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete).start()
    try {
      // user 1: events at 0,10 (one session) and 60 (a new session);
      // user 2: single event
      in.addData(ev(1, 0), ev(2, 10), ev(3, 60), ev(4, 0, user = 2L))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
          r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events")))
      val u1 = rows.filter(_._1 == 1L).sortBy(_._2.getTime)
      assert(u1.map(r => (r._2, r._4)).toSeq == Seq((ts(0), 2L), (ts(60), 1L)))
      assert(u1.head._3 == ts(40), "session end = last event + gap")
      assert(rows.count(_._1 == 2L) == 1)
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-user totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.runningUserTotals(in.toDS())
      .writeStream.format("memory").queryName("totals")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(ev(1, 0, user = 1L, value = 2.0), ev(2, 1, user = 2L, value = 3.0))
      q.processAllAvailable()
      in.addData(ev(3, 2, user = 1L, value = 5.0))
      q.processAllAvailable()
      val latest = spark.table("totals").as[UserTotals].collect()
        .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.n_events) }
      assert(latest(1L).n_events == 2L && latest(1L).total_value == 7.0)
      assert(latest(2L).n_events == 1L && latest(2L).total_value == 3.0)
    } finally q.stop()
  }

  test("file-source streaming: new parquet files flow through the same windows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_file_stream").toString
    // seed one file BEFORE starting so the source has a schema-bearing dir
    Seq(ev(1, 10), ev(2, 20)).toDF().write.mode("append").parquet(dir)
    val q = EventStreams.tumblingCounts(
        EventStreams.readEventStream(spark, dir), width = "1 hour")
      .writeStream.format("memory").queryName("filestream")
      .outputMode(OutputMode.Update).start()
    try {
      q.processAllAvailable()
      // a new file arriving later is discovered and merged into the window
      Seq(ev(3, 30, value = 2.0)).toDF().write.mode("append").parquet(dir)
      q.processAllAvailable()
      val hour0 = spark.table("filestream").collect()
        .filter(_.getAs[Timestamp]("window_start") == ts(0))
        .map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      assert(hour0.contains((3L, 4.0)),
        s"the late-arriving file must update the hour-0 window, got ${hour0.toSeq}")
    } finally q.stop()
  }

  test("streaming merge: micro-batches upsert into the snapshot via foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_merge").toString
    val in = MemoryStream[(String, java.lang.Double, java.lang.Double)]
    val updates = in.toDF().toDF("k", "f1", "f2")
    // each drain runs what is available now; the second resumes from the
    // first's checkpoint, so it sees only the data added after it
    def drain(): Unit =
      graft.streaming.StreamingFold.drain(updates, s"$dir/ckpt", "stream_merge") {
        (batch, _) =>
          val s = graft.sinks.MergeSink.mergeInto(spark, s"$dir/snapshot",
            batch, "k", Seq("f1", "f2"))
          Seq("n_upserted" -> s.nUpserted)
      }
    in.addData(("a", 1.0, 2.0), ("b", 3.0, 4.0))
    drain()
    assert(spark.read.parquet(s"$dir/snapshot").count() == 2)
    in.addData(("a", 9.0, null), ("c", 7.0, 7.0)) // update + insert, null-skip
    drain()
    val snap = spark.read.parquet(s"$dir/snapshot").orderBy("k").collect()
    assert(snap.map(_.getAs[String]("k")).toSeq == Seq("a", "b", "c"))
    assert(snap(0).getAs[Double]("f1") == 9.0 && snap(0).getAs[Double]("f2") == 2.0)
  }

  test("q46: streamed merge into a snapshot matches fixture-derived anchors") {
    val row = operators.StreamingQueries.q46StreamMerge(spark, sf).collect()(0)
    // fixture facts (sf0.001): 1000 unique event_ids, 15 users, 100 seeded
    assert(row.getAs[Long]("n_rows") == 1000L)
    assert(row.getAs[Long]("n_users") == 15L)
    // null-skip proof: the stream's null event_type did not erase the
    // seeded values, and nothing else ever wrote event_type
    assert(row.getAs[Long]("n_typed") == 100L)
    // accumulated per-batch MergeStats agree with the snapshot shape
    assert(row.getAs[Boolean]("counts_consistent"))
  }

  test("batch and streaming tumbling windows agree on the fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = operators.StreamingQueries.q24WindowTime(spark, sf).collect()
    val events = Tables.events(spark, sf).as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(in.toDF(), width = "1 hour")
      .writeStream.format("memory").queryName("parity")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(events)
      q.processAllAvailable()
      val streamed = spark.table("parity").collect()
        .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type")) ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
      batch.foreach { r =>
        val key = (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"))
        assert(streamed(key) ==
          (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")),
          s"mismatch at $key")
      }
    } finally q.stop()
  }

  test("checkpoint recovery: a restart resumes offsets AND state, no replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // recoverable sink — collect each batch's updated rows driver-side
    // lateness pinned: the late-merge assertion below needs the hour-0
    // window still live when the hour-2 event has advanced the watermark
    def start(sink: scala.collection.mutable.ArrayBuffer[(Timestamp, Long, Double)]) =
      EventStreams.tumblingCounts(
          EventStreams.readEventStream(spark, dir), width = "1 hour",
          lateness = "2 hours")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = batch.collect().map(r => (r.getAs[Timestamp]("window_start"),
            r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
          sink.synchronized { sink ++= rows }
          ()
        }.start()
    // run 1 processes three hour-0 events, then goes DOWN
    Seq(ev(1, 10), ev(2, 20), ev(3, 30)).toDF().write.mode("append").parquet(dir)
    val run1 = scala.collection.mutable.ArrayBuffer[(Timestamp, Long, Double)]()
    val q1 = start(run1)
    try q1.processAllAvailable() finally q1.stop()
    assert(run1.exists(r => r._1 == ts(0) && r._2 == 3L))
    // a new file (hour-2 only) arrives while the query is down; the
    // restarted query must pick it up WITHOUT re-reading the old files —
    // a replay with fresh state would re-emit an hour-0 row here
    Seq(ev(4, 130)).toDF().write.mode("append").parquet(dir)
    val run2 = scala.collection.mutable.ArrayBuffer[(Timestamp, Long, Double)]()
    val q2 = start(run2)
    try {
      q2.processAllAvailable()
      assert(run2.exists(_._1 == ts(120)))
      assert(!run2.exists(_._1 == ts(0)),
        "an hour-0 row right after restart means the old files were replayed")
      // a late hour-0 event now merges into the RESTORED window state:
      // n_events must be 3 (recovered) + 1 (new) — a fresh-state restart
      // would report 1
      Seq(ev(5, 40, value = 2.0)).toDF().write.mode("append").parquet(dir)
      q2.processAllAvailable()
      val hour0 = run2.filter(_._1 == ts(0)).map(r => (r._2, r._3))
      assert(hour0.contains((4L, 5.0)),
        s"restored state + late event must give (4, 5.0), got ${hour0.toSeq}")
    } finally q2.stop()
  }

  test("q41: file-source AvailableNow streaming matches batch windows and sessions") {
    // real incremental execution over the driver's fixture FILE (nanos ts,
    // checkpointed file source, AvailableNow) — the path a production user
    // hits first, which MemoryStream cases cannot cover
    val row = operators.StreamingQueries.q41StreamParity(spark, sf).collect()(0)
    assert(row.getAs[Long]("n_windows") > 0 && row.getAs[Long]("n_sessions") > 0)
    assert(row.getAs[Boolean]("windows_match"),
      "streaming tumbling windows must equal the batch output exactly")
    assert(row.getAs[Boolean]("sessions_match"),
      "streaming session windows must equal the batch output exactly")
  }

  test("q57: streamed dedup of a duplicated fixture matches batch dropDuplicates") {
    val row = operators.StreamingQueries.q57StreamDedup(spark, sf).collect()(0)
    assert(row.getAs[Long]("n_input") > row.getAs[Long]("n_unique"),
      "the constructed stream must actually carry duplicates (non-vacuity)")
    assert(row.getAs[Boolean]("dedup_match"),
      "streamed dropDuplicatesWithinWatermark must equal batch dropDuplicates")
  }

  test("q64: stream-static enrichment matches the batch join exactly") {
    val row = operators.StreamingQueries.q64StreamStatic(spark, sf).collect()(0)
    assert(row.getAs[Long]("n_enriched") > 0 && row.getAs[Long]("n_segments") > 0)
    assert(row.getAs[Boolean]("static_match"),
      "streamed dim-enrichment must equal the batch join exactly")
  }

  test("intervalJoin: same-user matches in [ts, ts+horizon), batch ≡ stream-stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(ev(1, 10, user = 1), ev(6, 40, user = 2))
    val purchases = Seq(
      ev(2, 10, user = 1, typ = "purchase", value = 5.0), // ts == click ts: included
      ev(3, 39, user = 1, typ = "purchase"),              // within horizon
      ev(4, 40, user = 1, typ = "purchase"),              // ts == click+30m: EXcluded
      ev(5, 41, user = 2, typ = "purchase"),              // other user's click matches
      ev(7, 5, user = 1, typ = "purchase"))               // before the click: excluded
    val batch = EventStreams
      .intervalJoin(clicks.toDF(), purchases.toDF())
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(batch == Set((1L, 2L), (1L, 3L), (6L, 5L)))
    // the same plan as a REAL stream-stream join (two unbounded sides)
    val inL = MemoryStream[Event]
    val inR = MemoryStream[Event]
    val q = EventStreams.intervalJoin(inL.toDF(), inR.toDF())
      .writeStream.format("memory").queryName("ij_stream")
      .outputMode(OutputMode.Append).start()
    try {
      inL.addData(clicks: _*)
      inR.addData(purchases.take(2): _*)
      q.processAllAvailable()
      inR.addData(purchases.drop(2): _*) // matches span micro-batches
      q.processAllAvailable()
      val streamed = spark.table("ij_stream")
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      assert(streamed == batch, "stream-stream join must equal the batch join")
    } finally q.stop()
  }

  test("batch and streaming sliding windows agree on the fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = operators.StreamingQueries.q35Sliding(spark, sf).collect()
    val events = Tables.events(spark, sf).as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val q = EventStreams.slidingAvg(in.toDF(), width = "1 hour", slide = "30 minutes")
      .writeStream.format("memory").queryName("sliding_parity")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(events)
      q.processAllAvailable()
      val streamed = spark.table("sliding_parity").collect()
        .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type")) ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
      assert(streamed.nonEmpty)
      batch.foreach { r =>
        val key = (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"))
        assert(streamed(key) ==
          (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")),
          s"mismatch at $key")
      }
    } finally q.stop()
  }
}
