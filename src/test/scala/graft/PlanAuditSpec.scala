package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Relational, SimilarityQueries}

/** Plan audits: the physical-plan properties that make these operators
  * survive a 100× scale-up, pinned as assertions so a regression in plan
  * shape fails CI, not the cluster. (Values are gated by the DuckDB
  * oracle; this gates the HOW.) */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("filter + projection push into the parquet scan (q1 shape)") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 30)
      .select(col("l_returnflag"), col("l_quantity"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)"),
      s"filter must reach the scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"),
      s"scan must read only the projected columns:\n$p")
  }

  test("constant-size dimension joins broadcast (q2 shape)") {
    val p = plan(Relational.q2JoinRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"nation/region joins must broadcast, not shuffle:\n$p")
  }

  test("top-k plans as TakeOrderedAndProject, not a full sort (q3)") {
    val p = plan(Relational.q3TopkOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"ORDER BY + LIMIT must not global-sort:\n$p")
  }

  test("hash aggregation is partial (map-side combine) before the shuffle (q1)") {
    val p = plan(Relational.q1Agg(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate pair:\n$p")
    assert(p.contains("Exchange hashpartitioning"),
      s"final agg shuffles on the group key:\n$p")
  }

  test("exact KNN broadcasts the query side and never shuffles the corpus (q22)") {
    val p = plan(SimilarityQueries.q22KnnExact(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"small query set × corpus must be a broadcast nested loop:\n$p")
    // the corpus side feeds the join straight from the scan — the only
    // exchange permitted is the per-query window partitioning afterwards
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"corpus must not shuffle before scoring:\n$p")
  }

  test("semi/anti joins stay semi/anti in the physical plan (q5/q6)") {
    assert(plan(Relational.q5SemiJoin(spark, sf)).contains("LeftSemi"))
    assert(plan(Relational.q6AntiJoin(spark, sf)).contains("LeftAnti"))
  }

  test("date-partitioned layout prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
      .filter(col("day") === "2024-01-02")
      .select(col("event_id"), col("value"))
    val p = plan(read)
    assert(p.contains("PartitionFilters: [isnotnull(day"),
      s"the day predicate must prune directories, not filter rows:\n$p")
    assert(read.count() > 0)
  }

  test("grouping sets lower to Expand + one aggregate pass (q39)") {
    val p = plan(Relational.q39GroupingSets(spark, sf))
    assert(p.contains("Expand"),
      s"grouping sets must expand rows, not re-scan per set:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"one shuffle for all grouping sets:\n$p")
  }

  test("the window-function battery shares one partition shuffle (q40)") {
    val p = plan(Relational.q40WindowFns(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"all window functions must reuse the o_custkey partitioning:\n$p")
  }

  test("winnow projections run the codegen expression, no interpreted HOF (q29/q42)") {
    // q29's fingerprint projection must carry graft_winnow_md5 inside a
    // WholeStageCodegen span — not the interpreted transform/slice lambda
    // pipeline it replaced (the round-4 5.5× win; a silent fallback to the
    // HOF form would pass the value gate and lose the performance)
    val p = plan(operators.TextQueries.q29Winnow(spark, sf))
    assert(p.contains("graft_winnow_md5"),
      s"q29 must run the codegen winnower:\n$p")
    assert(!p.contains("transform("),
      s"no interpreted higher-order transform may remain in the q29 plan:\n$p")
    // q42 carries BOTH codegen winnowers (the Rabin-Karp form under test
    // and the md5 form as its count anchor) — same audit
    val p42 = plan(operators.TextQueries.q42WinnowRk(spark, sf))
    assert(p42.contains("graft_winnow_rk") && p42.contains("graft_winnow_md5"),
      s"q42 must run both codegen winnowers:\n$p42")
    assert(!p42.contains("transform("),
      s"no interpreted higher-order transform may remain in the q42 plan:\n$p42")
    // (no WholeStageCodegen-span assertion here: an un-executed adaptive
    // plan hides the *(n) markers; WinnowMd5's doGenCode path is exercised
    // by the DedupSpec bit-equality case)
  }

  test("mixture sampling is a zero-shuffle map-side filter; packing shuffles once (q44/q45/q50)") {
    import graft.operators.TrainingData
    val docs = Tables.documents(spark, sf)
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    // the 100 TB sampler claim: decide each row from its hash alone — no
    // exchange of any kind may appear (md5 and xxh forms alike)
    for (fn <- Seq(TrainingData.hashBucket _, TrainingData.hashBucketXxh _)) {
      val p = plan(TrainingData.mixtureSample(docs, "doc_id", "lang", rates, "s", fn))
      assert(!p.contains("Exchange"),
        s"mixture sampling must not shuffle:\n$p")
    }
    // packing: exactly the one (partCol, shard) window exchange
    val pp = plan(TrainingData.packAssignments(docs, "lang", "doc_id",
      col("n_chars"), budget = 1024, shards = 4, seed = "s"))
    assert("Exchange hashpartitioning".r.findAllIn(pp).length == 1,
      s"pack assignment is one shuffle onto the stream key:\n$pp")
    // epoch upsampling and dataset splits share the sampler's
    // zero-shuffle contract: hash decision + bounded explode / label
    val up = plan(TrainingData.upsampleMixture(docs, "doc_id", "lang",
      Map("en" -> 2.5), "s"))
    assert(!up.contains("Exchange"), s"upsampling must not shuffle:\n$up")
    val sp = plan(TrainingData.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1), "s"))
    assert(!sp.contains("Exchange"), s"hash split must not shuffle:\n$sp")
  }

  test("the funnel's near-dup deletion converts to a broadcast anti-join under AQE (q56)") {
    // the non-survivor list comes off a checkpointed frame with no
    // Catalyst stats, so the STATIC plan is SortMergeJoin LeftAnti — the
    // right static choice, because forcing a broadcast hint would OOM on
    // a corpus whose non-survivor list outgrows the threshold. The scale
    // property to pin is the ADAPTIVE one: at runtime AQE sees the actual
    // (small) size and converts to BroadcastHashJoin, and the repeated nd
    // subtrees reuse one exchange instead of re-shuffling.
    val df = operators.TrainingData.q56NearDupFunnel(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(p.contains("isFinalPlan=true"), s"expected a finalized AQE plan:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"AQE must convert the cluster-deletion anti-join to broadcast:\n$p")
  }

  test("decontamination probes a broadcast eval set; only hits shuffle (q60)") {
    val p = plan(operators.TextQueries.q60Decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the eval shingle set must broadcast, never shuffle the corpus:\n$p")
    // exactly two hashpartitioning exchanges, neither corpus-sized: the
    // eval-side distinct (bounded eval volume, feeds the broadcast) and
    // the per-doc hit-count agg (hit volume). The corpus side must stream
    // scan → explode → broadcast probe with no exchange of its own.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"corpus grams must not shuffle:\n$p")
  }

  test("production top-p selection has no sort and no window (q61)") {
    val p = plan(operators.TrainingData.topQualityFraction(
      Tables.documents(spark, sf), 0.5))
    assert(!p.contains("Window"), s"top-p must not rank per row:\n$p")
    assert(!p.contains("rangepartitioning"), s"top-p must not global-sort:\n$p")
    // one exchange total: the per-language sketch agg; cutoffs broadcast
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1 && p.contains("BroadcastHashJoin"),
      s"sketch agg + broadcast cutoffs is the whole shuffle budget:\n$p")
  }

  test("bucketed dedup index joins with NO exchange on the index side (q65 layout)") {
    import spark.implicits._
    val t = "graft_plan_audit_idx"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      operators.MergeQueries.dedupIngestBucketed(spark, t,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "content_hash"),
        nBuckets = 8)
      // the per-day probe shape: batch anti-joins the index on the bucket
      // key. Broadcast disabled: at 100 TB the index side never
      // broadcasts — the property that matters is that its bucketed
      // layout replaces the shuffle.
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        val batch = Seq((4L, "a"), (5L, "d")).toDF("doc_id", "content_hash")
          .groupBy(col("content_hash")).agg(min(col("doc_id")).as("doc_id"))
        val df = batch.join(spark.table(t).select(col("content_hash")),
          Seq("content_hash"), "left_anti")
        val p = plan(df)
        assert(p.contains("Bucketed: true"),
          s"index scan must be bucket-aware:\n$p")
        assert(p.linesIterator.exists(l =>
            l.contains("SortMergeJoin") && l.contains("LeftAnti")),
          s"broadcast disabled, co-located SMJ expected:\n$p")
        // both exchanges belong to the BATCH side (its groupBy, then the
        // re-bucket to the index's partitioning); the index subtree reads
        // pre-partitioned — a third exchange would mean the index side
        // shuffled, the exact cost bucketing exists to remove
        val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
        assert(exchanges <= 2, s"the bucketed index side must not shuffle:\n$p")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("bucketed NEAR-dup index: re-delivery anti-join reads the index without exchange (q68 layout)") {
    import spark.implicits._
    val t = "graft_plan_audit_nd_idx"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      operators.MergeQueries.neardupIngestSigsBucketed(spark, t,
        operators.Dedup.simhashSignatures(
          Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
            .toDF("doc_id", "text"), "doc_id", "text"), nBuckets = 8)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        // step 1's probe shape: batch ids anti-join the index on doc_id,
        // the bucket key — the one join in the ingest whose index side
        // is corpus-sized AND keyed by the layout (the signature
        // cross-probe joins on exploded chunks, orthogonal to bucketing)
        val batch = Seq((3L, "x"), (1L, "y")).toDF("id", "text")
          .select(col("id"))
        val df = batch.join(spark.table(t).select(col("doc_id").as("id")),
          Seq("id"), "left_anti")
        val p = plan(df)
        assert(p.contains("Bucketed: true"),
          s"signature-index scan must be bucket-aware:\n$p")
        // one exchange max, and it belongs to the BATCH side (re-bucket
        // to the index's partitioning); the index subtree reads
        // pre-partitioned
        val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
        assert(exchanges <= 1, s"the bucketed index side must not shuffle:\n$p")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("partitioned dedup index: the probe prunes to the batch's buckets at the scan (q73 layout)") {
    import spark.implicits._
    import graft.sinks.ManifestMergeSink
    val dir = java.nio.file.Files.createTempDirectory("graft_pa_part").toString + "/idx"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      operators.MergeQueries.dedupIngestManifested(spark, dir,
        (1L to 256L).map(i => (i, s"h$i")).toDF("doc_id", "content_hash"),
        nBuckets = 16)
      val (_, st) = ManifestMergeSink.headState(spark, dir).get
      assert(st.mapping.size == 16, s"seed must populate every bucket: ${st.mapping}")
      // the per-day probe shape (dedupIngestManifested's recompute): the
      // index read for the batch's buckets — the scan's file index must
      // be rooted at exactly those buckets' dirs, not a filtered full scan
      val batch = Seq("h3", "h7").toDF("content_hash")
      val touched = graft.Sparks.distinctLongs(batch,
        pmod(xxhash64(col("content_hash")), lit(16L)))
      val df = ManifestMergeSink.readStateBuckets(spark, dir, st, touched)
        .select(col("content_hash"))
      val roots = df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString).toSet
      }
      val want = touched.map(b => new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir), st.mapping(b))).map(p =>
        fs.makeQualified(p).toString).toSet
      assert(roots == Seq(want),
        s"bucket probe must list only the batch's bucket dirs: $roots vs $want")
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(dir).getParent, true)
    }
  }

  test("PII redaction is a zero-shuffle narrow map inside codegen (q74)") {
    val p = plan(operators.TextQueries.redactPii(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")), "text"))
    // regexp_count/regexp_replace are codegen'd Catalyst expressions:
    // the whole stage is scan → project, no exchange at any corpus size
    assert(!p.contains("Exchange"), s"redaction must not shuffle:\n$p")
    // "*(1) Project" is the whole-stage-codegen marker in this plan
    // rendering — the project must sit inside a codegen stage
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"redaction must fuse into whole-stage codegen:\n$p")
  }

  test("repetition stats are a zero-shuffle narrow map (q75)") {
    val p = plan(operators.TextQueries.repetitionStats(
      Tables.documents(spark, sf), "doc_id", "text"))
    // everything a doc needs is in its row: bigrams + run-length scan
    // are array expressions — no exchange at any corpus size
    assert(!p.contains("Exchange"), s"repetition stats must not shuffle:\n$p")
  }

  test("exact-k selection aggregates map-side before its one shuffle (q66)") {
    val p = plan(operators.TrainingData.takeStratifiedK(
      Tables.documents(spark, sf), "doc_id", "lang", 5, "take"))
    // the udaf registration plans the bottom-k summary as a SQL
    // aggregate: a partial (map-side) pass trims to <= k pairs per
    // partition BEFORE the stratum shuffle, then one final merge — the
    // typed groupByKey route this replaced had no partial stage
    assert(p.contains("partial_"),
      s"bottom-k must partial-aggregate map-side:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"one stratum shuffle is the whole budget:\n$p")
  }

  test("sketch aggregates plan as a single partial+final pass (q26)") {
    val p = plan(Relational.q26Sketches(spark, sf))
    // HLL++ and percentile sketches ride the same hash-aggregate pair as
    // the exact metrics — no extra shuffle per sketch
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"sketches must not add shuffles:\n$p")
  }

  test("every custom codegen expression COMPILES under janino (fallback off)") {
    // A broken doGenCode degrades silently in production: janino rejects
    // the generated source, Spark logs an ERROR and re-runs the stage
    // interpreted — values stay correct, codegen throughput is lost, and
    // plan-string audits can't see it (the expression is still IN the
    // plan). Round 4 shipped exactly that: Spark's `code` interpolator
    // stripMargin'd WinnowMd5's template a second time and ate a
    // line-leading `|` operator. Disabling fallback turns the next such
    // regression into this test failing.
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.{TextFunctions, VectorFunctions}
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), lower(col("text")).as("t"))
      def isect(a: Column, b: Column): Column =
        ColumnBridge.column(graft.expressions.SortedIntersectSize(
          ColumnBridge.expression(a), ColumnBridge.expression(b)))
      val textRow = docs.select(
        TextFunctions.winnowFingerprintsMd5(col("t"), 5, 4).as("wm"),
        TextFunctions.winnowFingerprintsRk(col("t"), 5, 4).as("wr"),
        length(TextFunctions.nfcNormalize(col("t"))).as("nf"),
        operators.Dedup.simhashWord(
          array(xxhash64(col("t")), xxhash64(col("doc_id")))).as("sh"),
        isect(array_sort(split(col("t"), " ")),
          array_sort(split(reverse(col("t")), " "))).as("ix"))
        .agg(sum(size(col("wm"))), sum(size(col("wr"))),
          sum(col("nf")), sum(col("sh")), sum(col("ix")))
        .collect()
      assert(textRow.length == 1)
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val dotRow = emb.select(
        VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
        .agg(sum(col("d"))).collect()
      assert(dotRow.length == 1)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("composed layout: probe prunes directories AND joins without index exchange (q83)") {
    import spark.implicits._
    val t = "graft_plan_audit_pb_idx"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      operators.MergeQueries.dedupIngestPartBucketed(spark, t,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "content_hash"),
        nParts = 4, nBuckets = 8)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        val batch = Seq((4L, "a"), (5L, "d")).toDF("doc_id", "content_hash")
          .groupBy(col("content_hash")).agg(min(col("doc_id")).as("doc_id"))
        val df = batch.join(
          spark.table(t)
            .filter(col("pd").isin(java.lang.Long.valueOf(0L), java.lang.Long.valueOf(2L)))
            .select(col("content_hash")),
          Seq("content_hash"), "left_anti")
        val p = plan(df)
        assert(p.contains("PartitionFilters: [") && p.contains("pd"),
          s"probe must prune pd directories at the scan:\n$p")
        assert(p.contains("Bucketed: true"),
          s"pruned scan must stay bucket-aware:\n$p")
        // both exchanges belong to the batch side (groupBy, then the
        // re-bucket); the pruned index subtree reads pre-partitioned
        val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
        assert(exchanges <= 2, s"the index side must not shuffle:\n$p")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the corpus report reads the corpus ONCE: one scan, Expand, one agg shuffle (q77)") {
    val p = plan(operators.CorpusReport.corpusReport(
      Tables.documents(spark, sf), "text", Seq("lang", "source")))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"the whole dashboard must come from a single corpus scan:\n$p")
    assert(p.contains("Expand"),
      s"grouping sets must expand rows, not re-scan per set:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"one aggregation shuffle for all grouping sets:\n$p")
  }

  test("shuffle-sharding is one exchange; token-budget selection one window shuffle (q78/q81)") {
    val docs = Tables.documents(spark, sf)
    val sh = plan(operators.Sharding.shuffleShards(docs.select(col("doc_id")),
      "doc_id", 8, "s"))
    assert("Exchange hashpartitioning".r.findAllIn(sh).length == 1,
      s"shard assignment + rank must share the one shard shuffle:\n$sh")
    val tb = plan(operators.TrainingData.takeTokenBudget(docs, "doc_id", "lang",
      graft.functions.TextFunctions.tokenCount(col("text")), 2000L, 4, "s"))
    assert("Exchange hashpartitioning".r.findAllIn(tb).length == 1,
      s"budget selection is one window shuffle on (stratum, shard):\n$tb")
  }

  test("span dedup never goes quadratic: no cartesian, no nested-loop join (q79)") {
    val p = plan(operators.TextQueries.q79SpanDedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span masking must stay on hash joins over gram keys:\n$p")
  }

  test("snapshot diff is one key join carrying hashes, not payloads (q82)") {
    import spark.implicits._
    val v1 = (1L to 500L).map(i => (i, s"l$i", s"h$i")).toDF("doc_id", "lang", "h")
    val v2 = (3L to 502L).map(i => (i, s"l$i", s"h${i * 7}")).toDF("doc_id", "lang", "h")
    val p = plan(operators.MergeQueries.snapshotDiff(v1, v2, "doc_id", "h", Seq("lang")))
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      s"diff must be a single full-outer join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the diff:\n$p")
  }

  test("BM25 is scan → 1-row broadcast stats → TakeOrdered, no hash shuffle (q95)") {
    val p = plan(operators.Ranking.q95Bm25Rank(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must heap per partition, not global-sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the single-row corpus stats must broadcast onto the scan:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"nothing in BM25 needs a hash shuffle (per-doc tfs are narrow):\n$p")
  }

  test("drift counts aggregate map-side; totals broadcast back (q96)") {
    // build shape (pre-materialization): one count shuffle per snapshot
    // is ALL the corpus ever pays
    val docs = Tables.documents(spark, sf)
    val b = plan(operators.CorpusReport.driftCategoryCounts(
      docs.select(col("lang")), docs.select(col("lang")), Seq("lang")))
    assert("Exchange hashpartitioning".r.findAllIn(b).length == 2,
      s"one count shuffle per snapshot, O(#categories) rows each:\n$b")
    // outer shape: totals and the grand-total fold reuse the
    // MATERIALIZED category frame — no corpus re-scan, no hash shuffle
    val p = plan(operators.CorpusReport.q96DistributionDrift(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"every branch must reuse the checkpointed categories:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"single-row totals must broadcast onto the category rows:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("temperature mixture fuses the keep decision into a broadcast join (q97)") {
    val p = plan(operators.TrainingData.q97TemperatureMix(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"quota thresholds must broadcast onto the corpus scan:\n$p")
    // the bucket < threshold comparison rides the join condition — the
    // kept-count path adds exactly one agg shuffle after the probe
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("media near-dup joins signatures on chunk keys, payloads stay narrow (q98)") {
    val p = plan(operators.MediaQueries.q98MediaNeardup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay on the pigeonhole chunk join:\n$p")
    assert(p.contains("cval"),
      s"the join keys must be the exploded signature chunks:\n$p")
  }

  test("shuffled packing rides ONE exchange: rank and pack windows share the shard key (q105)") {
    val p = plan(operators.TrainingData.q105ShuffledPack(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"the rank window, pack ledger, and pack agg must share one shard shuffle:\n$p")
  }

  test("column profile reads the table ONCE for every distinct count (q102)") {
    val p = plan(operators.Audit.q102ColumnProfile(spark, sf))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"all per-column distincts must come from a single scan:\n$p")
    assert(p.contains("Expand"),
      s"multi-column count(DISTINCT) must plan as one Expand pass:\n$p")
  }

  test("length batching is ONE window shuffle; the ledger agg reuses it (q99)") {
    val p = plan(operators.TrainingData.q99LengthBatches(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"only the (bucket, shard) window may shuffle:\n$p")
    assert(p.contains("Window"), s"batch numbering is a bounded window:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"the batch ledger aggregates partial+final on the window's partitioning:\n$p")
  }

  test("canonical pick is an aggregate, not a window sort; canon joins back broadcast (q108)") {
    import spark.implicits._
    val members = Seq((1L, 10L), (3L, 10L)).toDF("id", "comp")
    val scored = Seq((1L, 0.4), (3L, 0.9)).toDF("id", "score")
    val p = plan(operators.TrainingData.canonicalByScore(members, scored))
    // the argmax must be max_by partial+final — a rank-window formulation
    // would sort every cluster's members instead of folding structs
    assert(!p.contains("Window"),
      s"argmax must not plan as a rank window:\n$p")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).nonEmpty,
      s"argmax must plan as an aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-comp canonical frame must broadcast back onto memberships:\n$p")
  }

  test("vocab induction: top-V is TakeOrdered; coverage joins broadcast (q109)") {
    val p = plan(operators.TextQueries.q109VocabOov(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-V vocabulary must not global-sort the type frame:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the V-row vocab must broadcast into the coverage semi-join:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"type counting must aggregate partial+final:\n$p")
  }

  test("CDC apply folds as max_by aggregate, never a per-key rank window (q115)") {
    val p = plan(operators.Cdc.applyChangelog(
      operators.Cdc.changelog(Tables.events(spark, sf))))
    assert(!p.contains("Window"),
      s"last-writer-wins must be an aggregate — a window would sort the changelog:\n$p")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).nonEmpty,
      s"expected an aggregate fold:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"one key shuffle, carrying per-key partials only:\n$p")
  }

  test("SCD2's rank and lead windows share one exchange and one sort (q116)") {
    val p = plan(operators.Cdc.scd2History(
      operators.Cdc.changelog(Tables.events(spark, sf))))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"row_number + lead over the same key/order must share a shuffle:\n$p")
    assert("\\bSort\\b".r.findAllIn(p).length <= 1,
      s"the shared window frame needs exactly one in-partition sort:\n$p")
  }

  test("LM scoring probes a broadcast vocabulary and TakeOrders the top-N (q118)") {
    val p = plan(operators.Ranking.q118LmQuality(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"unigram counts must broadcast onto the token stream:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N by score must not global-sort:\n$p")
  }

  test("ring negatives: one bounded window exchange + one equi-join, no cartesian (q119)") {
    val p = plan(operators.TrainingData.q119NegPairs(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"negative sampling must never cross-join the corpus:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the ring lookup is an equi-join on (shard, rank):\n$p")
  }

  test("fuzzy join blocks on variant keys — never the oracle's quadratic form (q124)") {
    val p = plan(operators.FuzzyJoin.q124FuzzyNames(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ed<=1 matching must go through deletion-neighborhood blocking:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"candidates come from an equi-join on the variant key:\n$p")
  }

  test("semantic decontamination probes a broadcast eval suite; corpus never shuffles (q125)") {
    val p = plan(operators.SimilarityQueries.q125SemanticDecon(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the bounded eval suite must broadcast onto one corpus scan:\n$p")
    // the only hash exchange carries HIT rows into the per-vector fold
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"only the (bounded) hit set may shuffle:\n$p")
  }

  test("weighted sampling is one narrow map + TakeOrdered — zero exchanges (q128)") {
    val p = plan(operators.TrainingData.weightedSample(
      Tables.documents(spark, sf), "doc_id", "n_chars", 60, "wsample"))
    assert(p.contains("TakeOrderedAndProject"),
      s"fixed-k weighted draw must heap per partition, not global-sort:\n$p")
    assert(!p.contains("Exchange"),
      s"the E-S key is a stateless per-row map; nothing may shuffle:\n$p")
  }

  test("DSIR probes a broadcast fixed-width lambda table and TakeOrders (q126)") {
    val p = plan(operators.Ranking.q126DsirSelect(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the 64-bucket lambda table must broadcast onto the token stream:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N by importance weight must not global-sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row constant joins via broadcast, not a cartesian:\n$p")
  }

  test("skyline filters through a broadcast frontier table — never a dominance self-join (q134)") {
    val p = plan(operators.TrainingData.q134Skyline(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded per-x maxima table must broadcast back over the corpus:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the oracle's quadratic dominance join must never appear in the plan:\n$p")
  }

  test("RRF fuses two TakeOrdered lists; nothing corpus-sized reaches the join (q135)") {
    val p = plan(operators.Ranking.q135HybridRrf(spark, sf))
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 1,
      s"the semantic list must heap per partition, not global-sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row query vector joins via broadcast:\n$p")
  }

  test("attribution joins a df-capped inverted index — no cartesian anywhere (q136)") {
    val p = plan(operators.TextQueries.q136Attribution(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"eval x train must flow through the shingle equi-join, never a cartesian:\n$p")
    // the only BNLJ permitted is the 1-row broadcast n_train constant
    // (the q126 precedent); the index probe itself must be an equi-join
    assert("BroadcastHashJoin \\[g#".r.findAllIn(p).nonEmpty ||
        "\\[g#\\d+\\], \\[g#\\d+\\]".r.findAllIn(p).nonEmpty,
      s"the shingle probe must hash-join on the gram key:\n$p")
    assert(p.contains("Exchange hashpartitioning"),
      s"the shingle-keyed index build shuffles on the gram key:\n$p")
  }

  test("pageRank round: keyed rank-edge join + map-side-partial in-flow aggregate (q133)") {
    val edges = operators.Graph.transitionEdges(Tables.events(spark, sf))
    val ew = edges.join(edges.groupBy(col("src")).agg(sum(col("wt")).as("tw")),
      Seq("src"))
    val nodes = edges.select(col("src").as("page"))
      .union(edges.select(col("dst"))).distinct()
    val r0 = nodes.withColumn("pr", lit(1000000L))
    val p = plan(operators.Graph.pageRankRound(ew, nodes, r0))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"per-round in-flow must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"rank-vector joins must be keyed, never cartesian:\n$p")
  }

  test("z-order assignment is a narrow integer map over the scan (q138 shape)") {
    val grid = spark.range(1000).selectExpr("id", "id % 31 AS qb", "id % 17 AS lb")
    val p = plan(operators.Sharding.zOrderLayout(grid, "id", "qb", "lb", 8))
    assert(!p.contains("Exchange"),
      s"zkey + file cut are pure per-row integer math; nothing may shuffle:\n$p")
  }

  test("curriculum: no single-partition window over corpus rows (q143)") {
    val p = plan(operators.TrainingData.q143Curriculum(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the cumulative-count table must broadcast onto the corpus:\n$p")
    // the only SinglePartition exchange allowed feeds the bounded
    // distinct-score window, never the corpus-row windows
    assert(p.contains("Exchange hashpartitioning"),
      s"corpus windows must partition by score group / phase:\n$p")
  }

  test("jackknife is one scan into a 32-row aggregate; tiny frames broadcast back (q144)") {
    val p = plan(operators.Audit.q144Jackknife(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"bucket sums must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"1-row totals/spread attach via broadcast, not cartesian:\n$p")
  }

  test("runtime bloom filter lands in the big side's plan inside the conf window (q145)") {
    var pinned: Option[String] = None
    operators.Skew.bloomPrunedJoin(spark,
      Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice"), col("l_discount")),
      Tables.orders(spark, sf).filter(col("o_totalprice") > 150000.0)
        .select(col("o_orderkey")),
      "l_orderkey", "o_orderkey",
      inspect = df => pinned = Some(df.queryExecution.optimizedPlan.toString)) { j =>
      j.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_items"))
    }
    val p = pinned.get
    assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
      s"InjectRuntimeFilter must add a bloom probe to the fact-side scan:\n$p")
  }

  test("neyman: one corpus aggregate + broadcast allocation; draw windows by stratum (q147)") {
    val p = plan(operators.TrainingData.q147Neyman(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the strata-row allocation table must broadcast onto the draw:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"1-row totals attach via broadcast, never cartesian:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"per-stratum moments must combine map-side:\n$p")
  }

  test("sequence mining rides ONE user-keyed exchange into the gram aggregate (q140)") {
    val p = plan(operators.StreamingQueries.q140SeqMining(spark, sf))
    assert(!p.contains("CartesianProduct"))
    // the session build must reuse the q91 user partitioning: exactly one
    // user-keyed exchange, then the gram-keyed aggregate exchange
    val userEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userEx == 1, s"sessionization must shuffle on user_id exactly once:\n$p")
  }

  test("N-D z-order key is a narrow integer map over the scan (q155 shape)") {
    val grid = spark.range(1000).selectExpr("id", "id % 31 AS a", "id % 17 AS b",
      "id % 13 AS c", "id % 7 AS d")
    val laid = grid.withColumn("zkey", operators.Sharding.zOrderKeyN(
        Seq(col("a"), col("b"), col("c"), col("d")), 5))
      .withColumn("file_id", expr(s"zkey * 16 div ${1L << 20}"))
    val p = plan(laid)
    assert(!p.contains("Exchange"),
      s"4-D zkey + file cut are pure per-row integer math; nothing may shuffle:\n$p")
    assert(p.contains("*(1) Project"),
      s"the interleave must stay inside one whole-stage-codegen projection:\n$p")
  }

  test("hist quantiles: stratum-keyed windows only, tiny frames broadcast (q161)") {
    val p = plan(operators.Audit.q161HistQuantiles(spark, sf))
    assert(p.contains("Exchange hashpartitioning(stratum"),
      s"the cumsum window must partition by stratum, never a global sort:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no corpus-sized single-partition exchange:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the totals and quantile points must broadcast onto the counts:\n$p")
  }

  test("evolving merge keeps the single full-outer key join (q154 shape)") {
    import spark.implicits._
    val target = Seq((1L, "en", 10L)).toDF("doc_id", "lang", "n_chars")
      .withColumn("updatedAt", to_timestamp(lit("2020-01-01 00:00:00")))
    val updates = Seq((1L, 5L)).toDF("doc_id", "flag")
    val merged = graft.sinks.MergeSink.mergePlan(target, updates, "doc_id",
      Seq("lang", "n_chars", "flag"))
    val p = plan(merged)
    // evolution must not add a pass: one join, no extra exchange beyond
    // the join's own partitioning (presence-aware projection only)
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).length == 1,
      s"the evolved merge is still exactly one full-outer key join:\n$p")
  }

  test("governed/scoped cross-probe: the cap window and scope keys add no shuffle") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val sigs = operators.Dedup.simhashSignatures(docs, "doc_id", "text",
      carry = Seq("lang")).localCheckpoint(true)
    val probe = sigs.filter(col("id") % 2 === 1)
    val index = sigs.filter(col("id") % 2 === 0)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join's own hashpartitioning is visible
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      def exchanges(df: DataFrame): Int =
        "Exchange hashpartitioning".r.findAllIn(plan(df)).length
      val exact = operators.Dedup.simhashCrossPairs(probe, index)
      val governed = operators.Dedup.simhashCrossPairs(probe, index,
        maxBucketSize = Some(20))
      // the hot-bucket window partitions by the SAME (chunk, cval) keys
      // the pair join hashes on — Spark reuses the exchange, so the
      // governor costs a sort within partitions, never a second shuffle
      assert(exchanges(governed) == exchanges(exact),
        s"the governor must not add an exchange:\n${plan(governed)}")
      // scope keys join as extra equi-columns on the same exchanges
      val scoped = operators.Dedup.simhashCrossPairs(probe, index,
        extraKeys = Seq("lang"))
      assert(exchanges(scoped) == exchanges(exact),
        s"scope keys must not add an exchange:\n${plan(scoped)}")
      // PER-SCOPE caps (q239): the caps frame is scope-cardinality tiny
      // and explicitly broadcast — it must join as a BroadcastHashJoin
      // and add no hash exchange beyond the exact plan's own. Caps are
      // materialized first (q239's usage): the sizing derivation is its
      // own metadata-scale job, not part of the probe plan under audit
      val caps = operators.Dedup.scopeGovernorCaps(index, Seq("lang"), 0.99)
        .localCheckpoint(true)
      val scopeCapped = operators.Dedup.simhashCrossPairs(probe, index,
        extraKeys = Seq("lang"), scopeCaps = Some(caps))
      assert(exchanges(scopeCapped) == exchanges(exact),
        s"per-scope caps must not add a hash exchange:\n${plan(scopeCapped)}")
      assert(plan(scopeCapped).contains("BroadcastHashJoin"),
        "the caps frame must broadcast, never shuffle the chunk stream")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("scoped fuzzy pairs: the scope key rides the variant exchange (q240 shape)") {
    import spark.implicits._
    val sup = Tables.supplier(spark, sf)
      .select(col("s_suppkey").as("id"),
        (col("s_nationkey") % 2).cast("long").as("region"),
        col("s_name").as("name"))
      .localCheckpoint(true)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      def exchanges(df: DataFrame): Int =
        "Exchange hashpartitioning".r.findAllIn(plan(df)).length
      val unscoped = operators.FuzzyJoin.edOnePairs(sup, "id", "name")
      val scoped = operators.FuzzyJoin.edOnePairs(sup, "id", "name",
        scopeCols = Seq("region"))
      // the scope key joins as an extra equi-column on the variant
      // exchange — per-scope sharding must never cost a second shuffle
      assert(exchanges(scoped) == exchanges(unscoped),
        s"the scope key must ride the variant exchange:\n${plan(scoped)}")
      assert("hashpartitioning\\([^)]*region".r.findFirstIn(plan(scoped))
        .isDefined,
        s"the variant exchange must hash the scope key too:\n${plan(scoped)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the upsert fold is ONE exchange, sort and window; the merge join reuses them (BulkUpdateJob)") {
    import graft.jobs.BulkUpdateJob
    import graft.sinks.MergeSink
    import graft.sources.SyntheticSource
    val dir = java.nio.file.Files.createTempDirectory("graft_fold_plan").toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      SyntheticSource.write(SyntheticSource.generate(spark, 200, 2, seed = 7,
        nullFraction = 0.2), s"$dir/updates")
      SyntheticSource.generate(spark, 400, 2, seed = 7)
        .withColumn("updatedAt", to_timestamp(lit("2020-01-01 00:00:00")))
        .write.parquet(s"$dir/target")
      // physical operators by name at the start of a plan-tree line
      def ops(df: DataFrame, op: String): Int =
        s"(?m)^[\\s:+\\-*()0-9]*$op[ (]".r.findAllIn(plan(df)).length
      def hashExchanges(df: DataFrame): Int =
        "Exchange hashpartitioning".r.findAllIn(plan(df)).length
      val fields = SyntheticSource.payloadFields
      assert(fields.size == 5)
      // the statement boundary widens with plain column expressions: no
      // interpreted higher-order map round-trip per row
      val stmts = BulkUpdateJob.statements(spark, s"$dir/updates", None, None)
      assert(!plan(stmts).contains("map_filter") && !plan(stmts).contains("element_at"),
        s"the update frame must not pack rows into a map:\n${plan(stmts)}")
      // the fold: one shuffle on the key, one sort, one window for all
      // five fields and the row pick
      val folded = MergeSink.collapseUpdates(stmts, SyntheticSource.idColumn, fields)
      assert(ops(folded, "Window") == 1 && ops(folded, "Sort") == 1 &&
        hashExchanges(folded) == 1,
        s"collapseUpdates must plan one Window, one Sort, one Exchange:\n${plan(folded)}")
      // the merge join: broadcast disabled (a corpus-sized target never
      // broadcasts), the update side arrives partitioned and sorted on
      // the key — only the target side may add an exchange and a sort
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val target = Parquets.read(spark, s"$dir/target")
      val (merged, _) = MergeSink.mergePlanObserved(target, folded,
        SyntheticSource.idColumn, fields)
      assert(hashExchanges(merged) == 2 && ops(merged, "Sort") <= 2 &&
        ops(merged, "Window") == 1,
        s"the join must reuse the fold's exchange and sort:\n${plan(merged)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
