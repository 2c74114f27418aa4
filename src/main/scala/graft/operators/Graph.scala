package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph centrality over an edge list — the numeric-fixpoint sibling of
  * [[Dedup.connectedComponents]] (CC propagates a min; PageRank folds
  * weighted contributions). The training-data use is source/page quality
  * weighting: rank nodes of a navigation (or citation) graph by link
  * centrality and feed the score into curation (the CommonCrawl-style
  * seed-quality signal), exactly the class of job the reference's
  * row-at-a-time ETL (mongo.py:103-163) cannot express.
  *
  * Determinism — INTEGER fixed-point throughout (the q118/q126
  * discipline applied to an iterative fixpoint): ranks live in micro-PR
  * units as BIGINTs, each round computes per-edge contributions with
  * integer floor division `(pr * 85 * wt) div (100 * tw)` and integer
  * sums, so every round's vector is bit-identical in any engine and
  * under any partitioning (integer + is commutative; div happens
  * per-edge BEFORE the sum). No double ever enters the fixpoint.
  *
  * Scale: the edge frame (with its out-weight attached) is built once
  * and persisted; each round is ONE join ranks⋈edges on src plus ONE
  * groupBy dst with map-side partial sums — both shuffles are keyed the
  * same way every round, so a real cluster pre-partitions edges by src
  * once and only the |V|-row rank vector moves (and broadcasts outright
  * while it fits, as the plan does here). localCheckpoint per round cuts
  * the lineage exactly like the CC loop. Dangling mass (nodes with no
  * out-edges) is dropped, the standard simplification — documented, and
  * immaterial to the gate because the oracle drops it identically. */
object Graph {

  /** Per-user clickstream transition edges from the events fixture:
    * order each user's events by (ts, event_id), join consecutive pages
    * (`props.$.k`) into directed (src, dst) steps, and collapse
    * multiplicity into an integer weight. One window over the user
    * partitioning (bounded per-user sort), one (src, dst) count. */
  def transitionEdges(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("page"))
      .withColumn("src", lag(col("page"), 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("page").as("dst"))
      .agg(count(lit(1)).as("wt"))
  }

  /** `rounds` PageRank iterations in micro-PR integer units: r0 = 1e6
    * per node, r_{i+1}(v) = 150000 + Σ_{(u,v)} (r_i(u)·85·wt) div
    * (100·tw(u)) — damping 0.85 with the (1−d) base in exact micro
    * units. Returns (page, pr_micro).
    *
    * `checkpointDir`/`checkpointInterval`: the cluster-safe reliable
    * truncation opt-in ([[graft.operators.IterCheckpoint]] — the
    * [[Dedup.connectedComponents]] contract): static frames and every
    * interval-th round land on reliable storage, so an executor loss
    * recomputes at most `checkpointInterval` rounds instead of failing
    * the loop. Default unchanged (localCheckpoint per round). */
  def pageRank(edges: DataFrame, rounds: Int,
               checkpointDir: Option[String] = None,
               checkpointInterval: Int = 5): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds")
    val spark = edges.sparkSession
    val ckpt = new IterCheckpoint(spark, checkpointDir, checkpointInterval)
    try {
      // static frames (round 0 → reliable in cluster-safe mode):
      // out-weight attached once; every round re-reads both
      val ew = ckpt.truncate(edges
        .join(edges.groupBy(col("src")).agg(sum(col("wt")).as("tw")),
          Seq("src")), 0)
      val nodes = ckpt.truncate(edges.select(col("src").as("page"))
        .union(edges.select(col("dst")))
        .distinct(), 0)
      var r = nodes.withColumn("pr", lit(1000000L))
      for (i <- 1 to rounds) {
        // no natural per-round action here — truncateRoll materializes
        // the new frame before releasing its parent (no recompute cascade)
        r = ckpt.truncateRoll(pageRankRound(ew, nodes, r), i)
      }
      ckpt.finish(r.select(col("page"), col("pr").as("pr_micro")))
    } finally ckpt.restore()
  }

  /** One PageRank round over (edges-with-out-weight, node set, ranks) —
    * exposed so PlanAuditSpec can pin the per-round physical shape the
    * checkpointed loop hides. */
  private[graft] def pageRankRound(ew: DataFrame, nodes: DataFrame,
                                   r: DataFrame): DataFrame = {
    val contrib = ew
      .join(r.withColumnRenamed("page", "src"), Seq("src"))
      .select(col("dst").as("page"),
        expr("(pr * 85 * wt) div (100 * tw)").as("c"))
      .groupBy(col("page")).agg(sum(col("c")).as("cin"))
    nodes.join(contrib, Seq("page"), "left")
      .select(col("page"),
        (lit(150000L) + coalesce(col("cin"), lit(0L))).as("pr"))
  }

  private val PrRounds = 5

  /** q133: [[PrRounds]] rounds over the clickstream transition graph —
    * every node's micro-PR rank, row-level exact against an oracle that
    * RE-DERIVES each round in its own unrolled CTE block (the q120
    * precedent for loop gates). */
  def q133PageRank(spark: SparkSession, dir: String): DataFrame =
    pageRank(transitionEdges(Tables.events(spark, dir)), PrRounds)
      .orderBy(col("pr_micro").desc, col("page"))

  /** INCREMENTAL GRAPH INGEST — fold a day's events into persistent
    * PageRank input state. The state has TWO parts, because a batch
    * boundary cuts right through the unit of work (a user's event
    * sequence): (a) the additive (src, dst, wt) edge-weight table —
    * q110's count-fold shape — and (b) the per-user FRONTIER (the last
    * (ts, event_id, page) seen), which supplies the `src` for each
    * user's first event of the NEXT batch; without it every batch
    * boundary silently drops one transition per active user.
    *
    * Delivery contract (exactly [[Cdc]]'s q121 pair of guards): batches
    * must arrive day-ordered and are ledger-absorbed on whole-batch
    * replay; PARTIAL re-deliveries inside a batch are dropped by the
    * per-user watermark (rows at or before the stored frontier), so
    * already-counted transitions can never double-fold into the additive
    * weights. Day order per user is the soundness condition: an event
    * older than the user's frontier is indistinguishable from a
    * re-delivery and is dropped — a log tailer naturally delivers in
    * order. (Contrast q129/q132, whose monotone states need neither.)
    *
    * Scale: per-batch cost is the batch's own window sort plus a
    * frontier join keyed on user — state touched is |users| + |distinct
    * edges| rows, never the event history; edges, frontier, AND the
    * batch ledger publish in ONE [[graft.sinks.LedgeredState]] commit,
    * so a crash can never leave the batch half-applied (edges swapped
    * but frontier/ledger not — the window where a replay would
    * double-count rows above the stale frontier). Ranks are then
    * derived from the snapshot on demand ([[pageRank]]) — the
    * model-state/selection split q131 uses. */
  def graphIngest(spark: SparkSession, path: String, batch: DataFrame,
                  batchId: String): Boolean = {
    import graft.sinks.LedgeredState
    if (LedgeredState.absorbed(spark, path, batchId)) return false
    val pages = batch.select(col("user_id"), col("ts"), col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("page"))
    val frontOpt = LedgeredState.readPart(spark, path, "frontier")
    val hasState = frontOpt.isDefined
    val front = frontOpt.orNull
    // per-user watermark: drop rows at or before the stored frontier
    // (partial re-deliveries), then prepend the frontier row itself so
    // the lag window emits the boundary transition
    val live =
      if (!hasState) pages
      else {
        val f = front.select(col("user_id"), col("ts").as("f_ts"),
          col("event_id").as("f_eid"))
        pages.join(f, Seq("user_id"), "left")
          .filter(col("f_ts").isNull ||
            struct(col("ts"), col("event_id")) >
              struct(col("f_ts"), col("f_eid")))
          .select(pages.columns.map(col): _*)
      }
    val combined =
      if (hasState) live.unionByName(front).localCheckpoint(true)
      else live.localCheckpoint(true) // edges + new frontier both read it
    val batchEdges = {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      combined
        .withColumn("src", lag(col("page"), 1).over(w))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("page").as("dst"))
        .agg(count(lit(1)).as("wt"))
    }
    val mergedEdges = LedgeredState.readPart(spark, path, "edges") match {
      case Some(st) => st.unionByName(batchEdges)
        .groupBy(col("src"), col("dst")).agg(sum(col("wt")).as("wt"))
      case None => batchEdges
    }
    val newFront = combined
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("ts"), col("event_id"), col("page")),
        struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.ts").as("ts"),
        col("m.event_id").as("event_id"), col("m.page").as("page"))
    // both parts read the pre-commit state lazily; commit materializes
    // them into the temp dir BEFORE the single swap, so neither plan
    // ever re-reads a replaced directory
    LedgeredState.commit(spark, path, batchId,
      Seq("edges" -> mergedEdges, "frontier" -> newFront))
    true
  }

  /** q137: [[graphIngest]] under the day-ordered split (ts median cut)
    * with a re-delivered day-1 slice inside day 2 (per-user watermark
    * drop) and a whole-batch replay (ledger no-op); ranks derived from
    * the edge snapshot must equal the whole-log batch answer — the
    * oracle IS q133's, verbatim. */
  def q137GraphIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q137_")
    try {
      val path = s"$base/graph_state"
      val ev = Tables.events(spark, dir)
      val cut = ev.agg(expr("percentile_approx(ts, 0.5)").as("c"))
        .head().getTimestamp(0)
      val d1 = ev.filter(col("ts") <= lit(cut))
      val d2 = ev.filter(col("ts") > lit(cut))
        .unionByName(d1.filter(col("event_id") % 5 === 0)) // re-delivery
      require(graphIngest(spark, path, d1, "day1"))
      require(graphIngest(spark, path, d2, "day2"))
      require(!graphIngest(spark, path, d2, "day2"),
        "replayed batch must be a ledger no-op")
      pageRank(graft.sinks.LedgeredState.readPart(spark, path, "edges").get, PrRounds)
        .orderBy(col("pr_micro").desc, col("page"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The whole point of the incremental path: its oracle IS q133's. */
  def q137GraphIngestSql: String = q133PageRankSql

  /** q139: the q137 fold behind a REAL file stream
    * ([[graft.streaming.StreamingFold]] — one micro-batch per landed day
    * file), with day 2's file RE-DELIVERING a slice of day 1 that the
    * per-user watermark must drop (the q122 harness shape). Ranks from
    * the streamed edge snapshot; oracle IS q133's, verbatim. */
  def q139StreamGraph(spark: SparkSession, dir: String): DataFrame = 
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.hadoop.fs.Path
    import graft.streaming.{EventStreams, StreamingFold}
    val base = java.nio.file.Files.createTempDirectory("graft_q139_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/graph_state"
      val ev = Tables.events(spark, dir)
      val cut = ev.agg(expr("percentile_approx(ts, 0.5)").as("c"))
        .head().getTimestamp(0)
      val d1 = ev.filter(col("ts") <= lit(cut))
      val days = Seq(
        d1,
        ev.filter(col("ts") > lit(cut))
          .unionByName(d1.filter(col("event_id") % 5 === 0))) // re-delivery
      days.zipWithIndex.foreach { case (d, i) =>
        StreamingFold.land(d, srcDir, s"day_$i.parquet")
      }
      StreamingFold.drain(StreamingFold.files(spark, EventStreams.eventSchema, srcDir),
          s"$base/ckpt", "stream_graph") { (batch, batchId) =>
        StreamingFold.applied(
          graphIngest(spark, statePath, batch, s"stream_$batchId"))
      }
      pageRank(graft.sinks.LedgeredState.readPart(spark, statePath, "edges").get, PrRounds)
        .orderBy(col("pr_micro").desc, col("page"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  /** The streamed fold's oracle IS q133's. */
  def q139StreamGraphSql: String = q133PageRankSql

  /** The oracle's fixpoint unroll: CTE chain ending in
    * `r[[PrRounds]](page, pr)` — shared by the q133/q137/q139 gates and
    * the q150 composition so every consumer agrees on the rank vector
    * by construction (the srpPairsCtes precedent). */
  private[operators] val pageRankCtes: String = {
    val rounds = (1 to PrRounds).map { i =>
      s"""r$i AS (
         |  SELECT n.page,
         |    150000 + coalesce((SELECT sum((r.pr * 85 * e.wt) // (100 * e.tw))
         |                       FROM ew e JOIN r${i - 1} r ON r.page = e.src
         |                       WHERE e.dst = n.page), 0) AS pr
         |  FROM nodes n)""".stripMargin
    }.mkString(",\n")
    s"""o AS (
       |  SELECT user_id, ts, event_id,
       |    json_extract(props, '$$.k')::bigint AS page
       |  FROM events),
       |steps AS (
       |  SELECT lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
       |         page AS dst
       |  FROM o),
       |w AS (SELECT src, dst, count(*)::BIGINT AS wt FROM steps
       |      WHERE src IS NOT NULL GROUP BY src, dst),
       |ew AS (SELECT w.src, w.dst, w.wt, o2.tw FROM w
       |       JOIN (SELECT src, sum(wt)::BIGINT AS tw FROM w GROUP BY src) o2
       |         ON o2.src = w.src),
       |nodes AS (SELECT DISTINCT page FROM
       |  (SELECT src AS page FROM w UNION SELECT dst FROM w)),
       |r0 AS (SELECT page, 1000000::BIGINT AS pr FROM nodes),
       |$rounds""".stripMargin
  }

  /** The oracle unrolls the fixpoint: r0 … r[[PrRounds]] as successive
    * CTEs, each one integer-arithmetic identical to the Spark round. */
  val q133PageRankSql: String =
    s"""WITH $pageRankCtes
       |SELECT page, pr::BIGINT AS pr_micro FROM r$PrRounds
       |ORDER BY pr_micro DESC, page""".stripMargin

  // q150 parameters: draw size + seed.
  private val PrSampleK = 20
  private val PrSampleSeed = "prsample"

  /** q150: CENTRALITY-WEIGHTED SAMPLING — the q133 × q128 composition:
    * draw [[PrSampleK]] pages without replacement with inclusion
    * proportional to their PageRank mass (the CommonCrawl-style
    * crawl-seed/quality-weighted selection: prominent pages are worth
    * more training tokens). Weight = pr_micro, a positive exact
    * integer, so the E-S draw inherits q128's full determinism
    * contract unchanged; gate emits rank + integer evidence (page,
    * pr_micro, bucket), oracle splices the shared PageRank CTE chain
    * into q128's E-S formulation. */
  def q150PrSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    TrainingData.weightedSample(
        pageRank(transitionEdges(Tables.events(spark, dir)), PrRounds),
        "page", "pr_micro", PrSampleK, PrSampleSeed)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("es_key").desc, col("page"))))
      .select(col("rank"), col("page"), col("pr_micro"), col("bucket"))
      .orderBy(col("rank"))
  }

  val q150PrSampleSql: String =
    s"""WITH $pageRankCtes,
       |pr AS (SELECT page, pr::BIGINT AS pr_micro FROM r$PrRounds),
       |s AS (SELECT page, pr_micro,
       |    ('0x' || substring(md5('$PrSampleSeed:' || page), 1, 8))::BIGINT AS bucket
       |  FROM pr WHERE pr_micro > 0),
       |k AS (SELECT *, ln((bucket + 1) / 4294967296.0) / pr_micro AS es_key FROM s)
       |SELECT row_number() OVER (ORDER BY es_key DESC, page) AS rank,
       |  page, pr_micro, bucket
       |FROM k ORDER BY es_key DESC, page LIMIT $PrSampleK""".stripMargin

  /** EXACT TRIANGLE COUNTING over the undirected transition graph —
    * the clustering-coefficient primitive (how clique-ish is each
    * page's neighborhood) and the other classic distributed graph
    * analytic next to PageRank's centrality.
    *
    * Plan — degree orientation (Suri & Vassilvitskii, WWW 2011 — the
    * MPC-standard trick): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher, so each node's
    * out-degree is O(√m) on any graph and the wedge self-join's volume
    * is Σ d_out² = O(m^{3/2}) instead of the Σ d² blowup a hub causes
    * unoriented (the skew argument: a celebrity node with d = 10⁶
    * generates ZERO wedges as a source because all its edges point IN).
    * Every triangle has exactly one source (its minimum in the total
    * order), so each is counted once — no /3 correction, no duplicate
    * pairs. The total order key packs (degree, id) into one long
    * (degrees and page ids are both bounded well below 2³¹).
    *
    * Per-node counts credit all three corners (unnest + one groupBy);
    * the gate emits every node's count plus the global total. All
    * joins are on node/edge keys over TYPE-bounded frames — the edge
    * set, never the event log. */
  def q180TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    val tri = triangles(transitionEdges(Tables.events(spark, dir)))
      .localCheckpoint(true) // feeds per-node counts AND the total
    val perNode = tri.select(explode(array(col("u"), col("x"), col("y"))).as("page"))
      .groupBy(col("page")).agg(count(lit(1)).as("n"))
      .select(lit("node").as("sect"), col("page"), col("n"))
    val total = tri.agg(count(lit(1)).as("n"))
      .select(lit("total").as("sect"), lit(null).cast("long").as("page"),
        col("n"))
    perNode.unionByName(total)
      .orderBy(col("sect"), col("page"))
  }

  /** Each triangle of the UNDIRECTED simplification of `edges` exactly
    * once, as (u, x, y) with u the minimum and y the maximum in the
    * (degree, id) total order — see [[q180TriangleCount]] for the
    * orientation argument. */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true) // feeds degrees + orientation
    val ord = und.select(col("a").as("v")).union(und.select(col("b")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .select(col("v"), (col("deg") * 1000000000L + col("v")).as("o"))
    val oriented = und
      .join(ord.select(col("v").as("a"), col("o").as("oa")), Seq("a"))
      .join(ord.select(col("v").as("b"), col("o").as("ob")), Seq("b"))
      .select(
        when(col("oa") < col("ob"), col("a")).otherwise(col("b")).as("u"),
        when(col("oa") < col("ob"), col("b")).otherwise(col("a")).as("w"),
        when(col("oa") < col("ob"), col("ob")).otherwise(col("oa")).as("ow"))
      .localCheckpoint(true) // wedge source, wedge sink, and closing probe
    val wedges = oriented.select(col("u"), col("w").as("x"), col("ow").as("ox"))
      .join(oriented.select(col("u"), col("w").as("y"), col("ow").as("oy")),
        Seq("u"))
      .filter(col("ox") < col("oy"))
    // the closing edge runs x→y in the orientation (ord(x) < ord(y))
    wedges.join(
        oriented.select(col("u").as("x"), col("w").as("y")),
        Seq("x", "y"), "inner")
      .select(col("u"), col("x"), col("y"))
  }

  val q180TriangleCountSql: String =
    s"""WITH o AS (
       |  SELECT user_id, ts, event_id,
       |    json_extract(props, '$$.k')::bigint AS page
       |  FROM events),
       |steps AS (
       |  SELECT lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
       |         page AS dst
       |  FROM o),
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM steps WHERE src IS NOT NULL AND src != dst),
       |ordk AS (SELECT v, count(*) * 1000000000 + v AS o
       |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
       |orient AS MATERIALIZED (SELECT
       |    CASE WHEN oa.o < ob.o THEN und.a ELSE und.b END AS u,
       |    CASE WHEN oa.o < ob.o THEN und.b ELSE und.a END AS w,
       |    CASE WHEN oa.o < ob.o THEN ob.o ELSE oa.o END AS ow
       |  FROM und JOIN ordk oa ON oa.v = und.a JOIN ordk ob ON ob.v = und.b),
       |tri AS MATERIALIZED (SELECT e1.u, e1.w AS x, e2.w AS y
       |  FROM orient e1
       |  JOIN orient e2 ON e2.u = e1.u AND e1.ow < e2.ow
       |  JOIN orient e3 ON e3.u = e1.w AND e3.w = e2.w)
       |SELECT * FROM (
       |  SELECT 'node' AS sect, page, count(*)::BIGINT AS n
       |  FROM (SELECT u AS page FROM tri
       |        UNION ALL SELECT x FROM tri
       |        UNION ALL SELECT y FROM tri)
       |  GROUP BY page
       |  UNION ALL
       |  SELECT 'total', NULL::BIGINT, count(*)::BIGINT FROM tri)
       |ORDER BY sect, page""".stripMargin
}
