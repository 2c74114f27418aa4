package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Jsons, Tables}
import graft.operators.{Audit, CorpusReport}
import graft.sinks.VersionCatalog

/** THE RELEASE GATE — the composition a corpus publisher runs when a
  * rebuilt snapshot becomes the next release: validate the candidate's
  * data contract (q186's suite), measure its mixture drift against the
  * previous release (q96's exact total-variation fold), and commit both
  * through the version catalog (q166's atomic manifest) with a
  * time-travel read-back proving the release is durably what was
  * audited. One report, three sections, uniform schema
  * (sect, k, a, b, c, ok):
  *
  *   contract: k = rule, a = n_checked, b = n_violations, ok = pass
  *   drift:    k = 'total', a/b = old/new totals, c = exact integer
  *             drift numerator (Σ|n_old·tot_new − n_new·tot_old|),
  *             ok = zero drift
  *   version:  k = committed version, a = its read-back row count,
  *             ok = read-back ≡ the audited frame (computed honestly —
  *             a broken catalog fails the gate against the oracle's
  *             expected true)
  *
  * Scale: contracts are one aggregate pass per rule (q186's argument),
  * drift is two lang-grouped counts + a category-width join, the
  * catalog commit writes data before publishing its manifest (q166's
  * crash discipline), and the read-back equality is two anti-join
  * counts on the committed snapshot — nothing pairwise, nothing
  * corpus² anywhere. */
object ReleaseJob {

  def releaseAudit(spark: SparkSession, prev: DataFrame, cand: DataFrame,
                   rules: Seq[Audit.ContractRule],
                   catalogPath: String): DataFrame = {
    import spark.implicits._
    val contract = Audit.contractValidate(cand, "doc_id", rules)
      .select(lit("contract").as("sect"), col("rule").as("k"),
        col("n_checked").as("a"), col("n_violations").as("b"),
        lit(null).cast("long").as("c"), col("pass").as("ok"))
    val drift = CorpusReport.distributionDrift(
        prev.select(col("lang")), cand.select(col("lang")), Seq("lang"))
      .filter(col("is_total") === 1L)
      .select(lit("drift").as("sect"), lit("total").as("k"),
        col("n_old").as("a"), col("n_new").as("b"),
        col("drift_num").as("c"), (col("drift_num") === 0L).as("ok"))
    def commitAndCheck(df: DataFrame): (Long, Long, Boolean) = {
      val v = VersionCatalog.commit(spark, catalogPath, df)
      val back = VersionCatalog.readVersion(spark, catalogPath, v)
        .selectExpr(df.columns: _*)
      val equal = back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty
      (v, back.count(), equal)
    }
    val rows = Seq(commitAndCheck(prev), commitAndCheck(cand)).map {
      case (v, n, eq) =>
        ("version", v.toString, Some(n), Option.empty[Long],
          Option.empty[Long], eq)
    }
    val versions = rows.toDF("sect", "k", "a", "b", "c", "ok")
    contract.unionByName(drift).unionByName(versions)
      .orderBy(col("sect"), col("k"))
  }

  /** q200: the release gate over the q82 rebuild fixture — the
    * candidate is documents minus `% 17 = 3`, with `% 13 = 2` edited
    * (text changed, n_chars left STALE — the rebuild forgot to refresh
    * it) and shifted-id copies of `% 19 = 7` added (ids with no
    * embedding row). Three contract rules fail non-vacuously
    * (nchars_consistent on the edits, embedding_fk on the copies,
    * lang_accepted on the fixture's zh), the drift row carries the
    * exact integer numerator of the lang mixture shift, and both
    * versions commit + time-travel back row-equal. The oracle restates
    * the rules over the same derived candidate via the SHARED q186
    * CTEs, the drift algebra, and the expected catalog rows. */
  def q200ReleaseGate(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q200_")
    try {
      val docs = Tables.documents(spark, dir)
      val cand = docs.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 2, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 19 === 7)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      releaseAudit(spark, docs, cand, Audit.docContractRules(spark, dir),
          s"$base/catalog")
        .localCheckpoint(true) // materialize before the catalog dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q200ReleaseGateSql: String =
    s"""WITH v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 13 = 2 THEN text || ' v2' ELSE text END AS text,
       |    lang, source, n_chars
       |  FROM documents WHERE doc_id % 17 != 3
       |  UNION ALL
       |  SELECT doc_id + 1000000, text, lang, source, n_chars
       |  FROM documents WHERE doc_id % 19 = 7),
       |${Audit.contractCtesSqlOver("v2")},
       |d1 AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY 1),
       |d2 AS (SELECT lang, count(*)::BIGINT AS n FROM v2 GROUP BY 1),
       |dj AS (SELECT coalesce(d1.n, 0) AS n1, coalesce(d2.n, 0) AS n2
       |  FROM d1 FULL OUTER JOIN d2 ON d1.lang = d2.lang),
       |dt AS (SELECT sum(n1)::BIGINT AS t1, sum(n2)::BIGINT AS t2 FROM dj),
       |dd AS (SELECT t1, t2,
       |  (SELECT sum(abs(n1 * t2 - n2 * t1)) FROM dj, dt)::BIGINT AS dn FROM dt)
       |SELECT * FROM (
       |  SELECT 'contract' AS sect, rule AS k, n_checked AS a,
       |    n_violations AS b, NULL::BIGINT AS c, (n_violations = 0) AS ok
       |  FROM (${Audit.contractUnionSql})
       |  UNION ALL
       |  SELECT 'drift', 'total', t1, t2, dn, (dn = 0) FROM dd
       |  UNION ALL
       |  SELECT 'version', '1', (SELECT count(*) FROM documents)::BIGINT,
       |    NULL::BIGINT, NULL::BIGINT, true
       |  UNION ALL
       |  SELECT 'version', '2', (SELECT count(*) FROM v2)::BIGINT,
       |    NULL::BIGINT, NULL::BIGINT, true)
       |ORDER BY sect, k""".stripMargin

  /** One contract rule's JSON line; the rule name is escaped. */
  private[graft] def contractLine(rule: String, violations: Long,
                                  pass: Boolean): String =
    s"""{"stage":"contract","rule":${Jsons.quote(rule)},""" +
      s""""violations":$violations,"pass":$pass}"""

  /** The committed release's JSON line; rule names are escaped. */
  private[graft] def committedLine(version: Long,
                                   advisoryFailed: Seq[String]): String =
    s"""{"stage":"release","status":"committed","version":$version,""" +
      s""""advisory_failures":${advisoryFailed.map(Jsons.quote)
        .mkString("[", ",", "]")}}"""

  /** CLI: `release <sfDir> <catalogPath>` — validate the documents
    * table's contract, refuse the release on any violation of a
    * BLOCKING rule (structural rules block; the advisory lang mix does
    * not), else commit it as the next catalog version. Prints one JSON
    * line per stage (the BulkUpdateJob convention). */
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: ReleaseJob <sfDir> <catalogPath>")
      sys.exit(2)
    }
    val Array(sfDir, catalogPath) = args
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, sfDir)
    val advisory = Set("lang_accepted")
    val report = Audit.contractValidate(docs, "doc_id",
      Audit.docContractRules(spark, sfDir)).collect()
    report.foreach { r =>
      println(contractLine(r.getAs[String]("rule"), r.getAs[Long]("n_violations"),
        r.getAs[Boolean]("pass")))
    }
    val blocking = report.filter(r =>
      !r.getAs[Boolean]("pass") && !advisory(r.getAs[String]("rule")))
    if (blocking.nonEmpty) {
      println(s"""{"stage":"release","status":"refused","blocking":${blocking.length}}""")
      spark.stop(); sys.exit(1)
    }
    // Advisory rules never block, but their failures are part of the
    // release record — surfaced in the final JSON line, not swallowed.
    val advisoryFailed = report.filter(r =>
      !r.getAs[Boolean]("pass") && advisory(r.getAs[String]("rule")))
      .map(_.getAs[String]("rule")).sorted
    val v = VersionCatalog.commit(spark, catalogPath, docs)
    println(committedLine(v, advisoryFailed.toSeq))
    spark.stop()
  }
}
