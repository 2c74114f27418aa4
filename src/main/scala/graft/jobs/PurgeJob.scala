package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Parquets}
import graft.operators.Purge
import graft.sinks.{ManifestMergeSink, VersionCatalog}

/** CLI: the DELETION-REQUEST run — right-to-be-forgotten as one
  * operation across every place a key lives, assembled from the
  * individually-gated operators (the MaintainJob composition pattern
  * applied to governance instead of storage health):
  *
  *   1. PURGE the manifested snapshot (q176's
  *      [[ManifestMergeSink.purgeManifested]] — touched-bucket IO only,
  *      one commit);
  *   2. PURGE the exact-dedup index of rows whose SURVIVOR is in the
  *      request (q176's [[Purge.purgeDedupIndex]] — frees the slot so
  *      re-arrived content re-inserts instead of being suppressed);
  *   3. PURGE every retained catalog version (q177's
  *      [[VersionCatalog.purge]] — time travel must forget too).
  *
  * Every step is idempotent (a purge of absent keys rewrites identical
  * content), so a crashed or replayed run re-runs safely — the same
  * at-least-once posture the q178 streamed queue relies on. Targets
  * are opt-in flags: a deployment without a catalog just omits it.
  *
  * The request arrives as a parquet of key values (the q178 marker
  * shape); `--hash-col` names the content-hash column the INDEX purge
  * needs (the request must carry it when `--index` is given — the
  * purged docs' own hashes, which bound the index read to candidate
  * buckets without an index scan). The snapshot and the index are
  * manifested layouts ([[ManifestMergeSink]]); each purge hashes under
  * the bucket count its committed head carries, so no count is passed.
  *
  * Usage: PurgeJob <keysParquet> --key <col>
  *        [--snapshot dir] [--index dir --hash-col <col>]
  *        [--catalog dir]
  */
object PurgeJob {

  final case class PurgeConfig(key: String = "doc_id",
                               snapshot: Option[String] = None,
                               index: Option[String] = None,
                               hashCol: String = "content_hash",
                               catalog: Option[String] = None)

  object PurgeConfig {
    def fromFlags(flags: Seq[String]): PurgeConfig = {
      def parse(c: PurgeConfig, rest: List[String]): PurgeConfig = rest match {
        case Nil => c
        case "--key" :: v :: r => parse(c.copy(key = v), r)
        case "--snapshot" :: v :: r => parse(c.copy(snapshot = Some(v)), r)
        case "--index" :: v :: r => parse(c.copy(index = Some(v)), r)
        case "--hash-col" :: v :: r => parse(c.copy(hashCol = v), r)
        case "--catalog" :: v :: r => parse(c.copy(catalog = Some(v)), r)
        case f :: _ => throw new IllegalArgumentException(
          s"unknown flag '$f' (known: --key, --snapshot, --index, " +
            "--hash-col, --catalog)")
      }
      val c = parse(PurgeConfig(), flags.toList)
      require(c.snapshot.nonEmpty || c.index.nonEmpty || c.catalog.nonEmpty,
        "nothing to purge: pass at least one of --snapshot/--index/--catalog")
      c
    }
  }

  final case class PurgeSummary(snapshotPurged: Option[Long],
                                indexPurged: Option[Long],
                                catalogPurged: Seq[(Long, Long)])

  def run(spark: SparkSession, keys: DataFrame,
          cfg: PurgeConfig): PurgeSummary = {
    val snap = cfg.snapshot.map { dir =>
      ManifestMergeSink.purgeManifested(spark, dir,
        keys.select(col(cfg.key)), cfg.key).nPurged
    }
    val idx = cfg.index.map { dir =>
      require(keys.columns.contains(cfg.hashCol),
        s"--index needs the request to carry '${cfg.hashCol}' " +
          "(the purged docs' content hashes)")
      Purge.purgeDedupIndex(spark, dir,
        keys.select(col(cfg.hashCol), col(cfg.key).as("doc_id"))).nPurged
    }
    val cat = cfg.catalog.map { dir =>
      VersionCatalog.purge(spark, dir, keys.select(col(cfg.key)), cfg.key)
    }.getOrElse(Seq.empty)
    PurgeSummary(snap, idx, cat)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: PurgeJob <keysParquet> [flags]")
    val cfg = PurgeConfig.fromFlags(args.drop(1).toSeq)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = run(spark, Parquets.read(spark, args(0)), cfg)
    System.err.println(
      s"""{"stage":"purge","snapshot":${s.snapshotPurged.getOrElse(-1L)},""" +
        s""""index":${s.indexPurged.getOrElse(-1L)},""" +
        s""""catalog":[${s.catalogPurged.map(p => s"[${p._1},${p._2}]").mkString(",")}]}""")
    spark.stop()
  }
}
