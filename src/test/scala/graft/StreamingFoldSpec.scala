package graft

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.streaming.StreamingFold

/** [[StreamingFold]] is the one streaming fold driver: one landed file
  * per micro-batch, resumable from its checkpoint, loud on a failing
  * ingest, one escaped JSON line per batch. Also guards the engine's
  * sources against a private `foreachBatch` driver. */
class StreamingFoldSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("file", LongType), StructField("id", LongType)))

  /** Three files of 3, 4 and 5 rows, tagged with their landing index. */
  private def landed(): (String, String) = {
    val base = Files.createTempDirectory("graft_fold_").toString
    val srcDir = s"$base/arrivals"
    Seq(3, 4, 5).zipWithIndex.foreach { case (n, i) =>
      StreamingFold.land(
        spark.range(n).select(lit(i.toLong).as("file"), col("id")),
        srcDir, s"f_$i.parquet")
    }
    (srcDir, s"$base/ckpt")
  }

  /** `body`'s stdout lines, including those the stream thread prints
    * (it inherits the console when the query starts inside `body`). */
  private def stdout(body: => Unit): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(body)
    ps.flush()
    buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
  }

  test("one micro-batch per landed file, in landing order; a rerun on the checkpoint runs none") {
    val (srcDir, ckpt) = landed()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long], Long)]
    def drain(): Unit =
      StreamingFold.drain(StreamingFold.files(spark, schema, srcDir), ckpt, "fold_spec") {
        (batch, batchId) =>
          val files = batch.select("file").distinct().as[Long].collect().toSeq.sorted
          seen.add((batchId, files, batch.count()))
          Seq("rows" -> batch.count())
      }
    drain()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == Seq((0L, Seq(0L), 3L), (1L, Seq(1L), 4L), (2L, Seq(2L), 5L)))
    seen.clear()
    drain()
    assert(seen.isEmpty, s"a second drain on the same checkpoint re-ran batches: $seen")
  }

  test("a throwing ingest fails the drain and leaves no active query") {
    val (srcDir, ckpt) = landed()
    val e = intercept[Exception] {
      StreamingFold.drain(StreamingFold.files(spark, schema, srcDir), ckpt, "fold_spec") {
        (_, batchId) => if (batchId == 1L) sys.error("ingest failed on batch 1") else Nil
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("ingest failed on batch 1")),
      s"the ingest's exception is not in the cause chain: $e")
    assert(spark.streams.active.isEmpty, s"left active: ${spark.streams.active.toSeq}")
  }

  test("every batch event line is valid JSON, hostile stage names included") {
    val (srcDir, ckpt) = landed()
    val stage = "fold \"spec\" \\ path\tx"
    val lines = stdout {
      StreamingFold.drain(StreamingFold.files(spark, schema, srcDir), ckpt, stage) {
        (batch, _) => Seq("rows" -> batch.count(), "odd \"key\"" -> 1L)
      }
    }.filter(_.startsWith("{\"stage\":"))
    assert(lines.size == 3, s"expected one event line per batch: $lines")
    val mapper = new ObjectMapper()
    val parsed = lines.map(l => withClue(l)(mapper.readTree(l)))
    assert(parsed.map(_.get("stage").asText()).distinct == Seq(stage))
    assert(parsed.map(_.get("batch").asLong()) == Seq(0L, 1L, 2L))
    assert(parsed.map(_.get("rows").asLong()) == Seq(3L, 4L, 5L))
    assert(parsed.forall(p => p.get("batch_s").isNumber && p.get("odd \"key\"").asLong() == 1L))
  }

  // --- regression guard: no private streaming driver outside StreamingFold ---

  /** Code lines (comments stripped) naming `foreachBatch` or
    * `maxFilesPerTrigger`, as (line, text). */
  private def driverLines(source: String): Seq[(Int, String)] =
    source.split("\n", -1).toSeq.zipWithIndex.flatMap { case (line, i) =>
      val t = line.trim
      val code =
        if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
        else line.replaceAll("\\s//.*$", "")
      if ("\\b(foreachBatch|maxFilesPerTrigger)\\b".r.findFirstIn(code).isDefined)
        Some((i + 1, t))
      else None
    }

  test("the guard's scanner flags streaming-driver code and only code") {
    assert(driverLines("df.writeStream\n  .foreachBatch { (b: Dataset[Row], id: Long) => f(b) }") ==
      Seq((2, ".foreachBatch { (b: Dataset[Row], id: Long) => f(b) }")))
    assert(driverLines("spark.readStream.schema(s).option(\"maxFilesPerTrigger\", 1).parquet(d)").size == 1)
    assert(driverLines("q.foreachBatch(f) // a private driver").size == 1)
    assert(driverLines("  * bridges through `foreachBatch` in a doc").isEmpty)
    assert(driverLines("  // set maxFilesPerTrigger here").isEmpty)
    assert(driverLines("val x = 1 // not foreachBatch").isEmpty)
    assert(driverLines("def foreachBatchCount = 1").isEmpty)
  }

  test("no foreachBatch or maxFilesPerTrigger in src/main/scala outside StreamingFold") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    def files(d: File): Seq[File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val all = files(root).filter(_.getName.endsWith(".scala"))
    val hits = all.filterNot(_.getName == "StreamingFold.scala").flatMap { f =>
      driverLines(new String(Files.readAllBytes(f.toPath), "UTF-8"))
        .map { case (line, text) => s"${f.getPath}:$line: $text" }
    }
    assert(hits.isEmpty, "drain through graft.streaming.StreamingFold instead:\n" +
      hits.mkString("\n"))
    // and the scan sees the driver itself, so it is not vacuous
    val fold = all.find(_.getName == "StreamingFold.scala").get
    assert(driverLines(new String(Files.readAllBytes(fold.toPath), "UTF-8")).size == 2)
  }
}
