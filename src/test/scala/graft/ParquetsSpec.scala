package graft

import java.io.File
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import graft.sinks.MergeSink

/** [[Parquets.read]] is `spark.read.parquet` minus the schema-inference
  * job and the second listing: same schema, same rows, zero Spark jobs to
  * resolve the schema, each leaf file listed once. [[Parquets.withSchema]]
  * is `spark.read.schema(s).parquet` from the same one listing. Also
  * guards the engine's sources against a parquet read that bypasses them
  * and a footer open that re-parses Hadoop's bundled XML defaults. */
class ParquetsSpec extends SparkSpec {
  import spark.implicits._

  private val sf01 = s"${new File(sf).getParent}/sf0.01"

  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBridge.waitUntilEmpty(sc)
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBridge.waitUntilEmpty(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("bytes(", ",", ")")
      case v => String.valueOf(v)
    }.mkString("[", ",", "]")).toSeq.sorted

  /** Same schema and rows as Spark's own inference, and no job to
    * resolve it (while Spark's own inference does start one). */
  private def assertEquivalent(paths: Seq[String],
                               options: Map[String, String] = Map.empty): DataFrame = {
    val (spark0, sparkJobs) = jobsDuring(spark.read.options(options).parquet(paths: _*))
    val (ours, ourJobs) = jobsDuring(Parquets.read(spark, paths, options))
    assert(ours.schema == spark0.schema, s"schema differs at $paths")
    assert(rows(ours) == rows(spark0), s"rows differ at $paths")
    assert(sparkJobs >= 1, "spark.read.parquet no longer infers with a job; the spec lost its baseline")
    assert(ourJobs == 0, s"resolving $paths started $ourJobs Spark job(s)")
    ours
  }

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  /** `body`'s value and how many leaf files the listings it ran found. */
  private def filesListed[T](body: => T): (T, Long) = {
    val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val r = body
    (r, HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before)
  }

  private def relation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.getOrElse(fail(s"no file relation in ${df.queryExecution.analyzed}"))

  /** [[Parquets.withSchema]] equals Spark's schema-pinned read: schema,
    * partition columns and their types, rows, `inputFiles` and the
    * relation itself; and it lists each leaf file once. */
  private def assertSameAsPinned(paths: Seq[String], schema: StructType,
                                 options: Map[String, String] = Map.empty): DataFrame = {
    val theirs = spark.read.options(options).schema(schema).parquet(paths: _*)
    val (ours, listed) = filesListed(Parquets.withSchema(spark, schema, paths, options))
    assert(ours.schema == theirs.schema, s"schema differs at $paths")
    assert(relation(ours).partitionSchema == relation(theirs).partitionSchema,
      s"partition columns differ at $paths")
    assert(rows(ours) == rows(theirs), s"rows differ at $paths")
    assert(ours.inputFiles.sorted.toSeq == theirs.inputFiles.sorted.toSeq,
      s"input files differ at $paths")
    assert(relation(ours) == relation(theirs), s"relation differs at $paths")
    assert(listed == ours.inputFiles.length,
      s"one open of $paths listed $listed files for ${ours.inputFiles.length} leaves")
    ours
  }

  private def dataFiles(dir: JPath): Seq[JPath] =
    Files.list(dir).toArray.map(_.asInstanceOf[JPath])
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)

  test("all ten fixture tables at sf0.01: same schema and rows, zero jobs") {
    Tables.names.foreach(t => assertEquivalent(Seq(s"$sf01/$t.parquet")))
  }

  test("converter flags follow the session: NANOS under nanosAsLong, NTZ, INT96, raw binary") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val dir = tmp("graft_parquets_flags_")
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  required int64 ts_nanos (TIMESTAMP(NANOS,true));
        |  required int64 ts_ntz (TIMESTAMP(MICROS,false));
        |  required int96 ts_int96;
        |  required binary raw;
        |}""".stripMargin)
    val conf = new Configuration()
    val out = new HPath(dir.resolve("part-00000.parquet").toUri)
    val w = ExampleParquetWriter.builder(out).withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      w.write(groups.newGroup()
        .append("id", i.toLong)
        .append("ts_nanos", 1700000000000000000L + i)
        .append("ts_ntz", 1700000000000000L + i)
        .append("ts_int96", new NanoTime(2460000 + i, 1000L * i).toBinary)
        .append("raw", Binary.fromString(s"r$i")))
    } finally w.close()
    val df = assertEquivalent(Seq(dir.toString))
    assert(df.schema("ts_nanos").dataType == LongType)
  }

  test("a MergeSink.mergeInto target after three merges") {
    val target = tmp("graft_parquets_merge_").resolve("snap").toString
    Seq(Seq(("a", 1.0, 2.0), ("b", 3.0, 4.0)),
        Seq(("b", 5.0, 6.0), ("c", 7.0, 8.0)),
        Seq(("a", 9.0, 10.0), ("d", 11.0, 12.0))).foreach { batch =>
      MergeSink.mergeInto(spark, target, batch.toDF("k", "f1", "f2"), "k", Seq("f1", "f2"))
    }
    assert(assertEquivalent(Seq(target)).count() == 4)
  }

  test("a partitionBy dir keeps its inferred partition-column type") {
    val dir = tmp("graft_parquets_part_").resolve("t").toString
    spark.range(40).select(col("id"), (col("id") % 3).cast("int").as("p"),
        concat(lit("s"), (col("id") % 2).cast("string")).as("q"))
      .write.partitionBy("p", "q").parquet(dir)
    val df = assertEquivalent(Seq(dir))
    assert(df.schema("p").dataType == IntegerType)
    // basePath over a subset of partition dirs, as DirManifest reads them
    assertEquivalent(Seq(s"$dir/p=1", s"$dir/p=2"), Map("basePath" -> dir))
  }

  test("_SUCCESS, .crc and ._COPYING_ are skipped; _common_metadata, then _metadata, wins") {
    val base = tmp("graft_parquets_summary_")
    def write(name: String, df: DataFrame): JPath = {
      val d = base.resolve(name); df.coalesce(1).write.parquet(d.toString); d
    }
    val dir = write("t", spark.range(5).select(col("id"), lit("x").as("a")))
    val other = dataFiles(write("b", spark.range(3).select(col("id"), lit(1.5).as("b")))).head
    val third = dataFiles(write("c", spark.range(3).select(col("id"), lit(true).as("c")))).head
    assert(Files.exists(dir.resolve("_SUCCESS")))
    // not parquet: read as a footer, either would fail the resolve
    Seq(".part-00000.parquet.crc", "part-00001.parquet._COPYING_")
      .foreach(n => Files.write(dir.resolve(n), "not parquet".getBytes("UTF-8")))
    Files.copy(third, dir.resolve("_metadata"))
    Files.copy(other, dir.resolve("_common_metadata"))
    assert(assertEquivalent(Seq(dir.toString)).columns.contains("b"))
    Files.delete(dir.resolve("_common_metadata"))
    assert(assertEquivalent(Seq(dir.toString)).columns.contains("c"))
  }

  test("data files with different schemas: the first by sorted path wins") {
    val base = tmp("graft_parquets_mixed_")
    val a = base.resolve("a"); val b = base.resolve("b")
    spark.range(3).select(col("id"), lit("x").as("left")).coalesce(1).write.parquet(a.toString)
    spark.range(3).select(col("id"), lit(2L).as("right")).coalesce(1).write.parquet(b.toString)
    def mixed(first: JPath, second: JPath, name: String): Seq[String] = {
      val d = Files.createDirectories(base.resolve(name))
      Files.copy(dataFiles(first).head, d.resolve("part-00000.parquet"))
      Files.copy(dataFiles(second).head, d.resolve("part-00001.parquet"))
      assertEquivalent(Seq(d.toString)).columns.toSeq
    }
    assert(mixed(a, b, "ab") == Seq("id", "left"))
    assert(mixed(b, a, "ba") == Seq("id", "right"))
  }

  test("a missing path and an empty dir raise Spark's own exception class") {
    val empty = tmp("graft_parquets_empty_").toString
    val missing = s"$empty/does_not_exist"
    Seq(missing, empty).foreach { p =>
      val theirs = intercept[Throwable](spark.read.parquet(p))
      val ours = intercept[Throwable](Parquets.read(spark, p))
      assert(ours.getClass == theirs.getClass, s"$p: ${ours.getClass} vs ${theirs.getClass}")
    }
  }

  test("the explicit-schema open equals spark.read.schema(s).parquet: plain and partitionBy dirs") {
    val plain = tmp("graft_parquets_pinned_").resolve("t").toString
    spark.range(30).select(col("id"), (col("id") * 2).as("v")).repartition(3)
      .write.parquet(plain)
    assertSameAsPinned(Seq(plain), spark.read.parquet(plain).schema)
    // a narrower and a reordered schema are decoded, not re-inferred
    assertSameAsPinned(Seq(plain), new StructType().add("v", LongType).add("id", LongType))

    val parted = tmp("graft_parquets_pinned_part_").resolve("t").toString
    spark.range(40).select(col("id"), (col("id") % 3).cast("int").as("p"))
      .write.partitionBy("p").parquet(parted)
    val df = assertSameAsPinned(Seq(parted), new StructType().add("id", LongType))
    assert(df.schema("p").dataType == IntegerType)
    // a pinned partition-column type overrides discovery, as in Spark
    assertSameAsPinned(Seq(parted),
      new StructType().add("id", LongType).add("p", LongType))
  }

  test("the explicit-schema open equals Spark's on a basePath multi-generation read and skips hidden files") {
    val root = tmp("graft_parquets_pinned_gen_")
    Seq("g-1", "g-2").zipWithIndex.foreach { case (g, i) =>
      spark.range(i * 20, i * 20 + 20).select(col("id"), (col("id") % 2).as("b"))
        .write.partitionBy("b").parquet(root.resolve(g).toString)
    }
    val schema = new StructType().add("id", LongType).add("b", LongType)
    // one generation per open, basePath at the generation, as DirManifest reads
    Seq("g-1", "g-2").foreach { g =>
      assertSameAsPinned(Seq(s"$root/$g/b=0", s"$root/$g/b=1"), schema,
        Map("basePath" -> s"$root/$g"))
    }
    val dir = root.resolve("g-1").resolve("b=0")
    assert(Files.list(root.resolve("g-1")).toArray.map(_.toString).exists(_.endsWith("_SUCCESS")))
    Seq(".part-00000.parquet.crc", "_SUCCESS.tmp", ".hidden.parquet")
      .foreach(n => Files.write(dir.resolve(n), "not parquet".getBytes("UTF-8")))
    assertSameAsPinned(Seq(dir.toString), new StructType().add("id", LongType))
    assertSameAsPinned(Seq(root.resolve("g-1").toString), schema)
  }

  test("one open lists each leaf file once and returns the footer it read") {
    val dir = tmp("graft_parquets_once_").resolve("t").toString
    spark.range(50).repartition(5).write.parquet(dir)
    val (df, listed) = filesListed(Parquets.read(spark, dir))
    assert(df.inputFiles.length == 5 && listed == 5,
      s"a schema-less open listed $listed files for 5 leaves")
    val (opened, listed2) = filesListed(Parquets.open(spark, Seq(dir), footer = true))
    assert(listed2 == 5, s"an open with its footer listed $listed2 files for 5 leaves")
    val footer = opened.flatMap(_.footer).getOrElse(fail("no footer from the open"))
    assert(footer.getFileMetaData.getSchema.getFieldCount == 1)
    assert(footer.getBlocks.size == 1)
    // no leaf file: None, and read hands over to Spark for its exception
    assert(Parquets.open(spark, Seq(s"$dir/none")).isEmpty)
  }

  test("a glob and mergeSchema fall back to Spark's own read") {
    val dir = s"$sf01/region.parquet"
    assert(Parquets.read(spark, Seq(s"$sf01/regio*.parquet")).schema ==
      spark.read.parquet(s"$sf01/regio*.parquet").schema)
    assert(Parquets.read(spark, Seq(dir), Map("mergeSchema" -> "true")).schema ==
      spark.read.option("mergeSchema", "true").parquet(dir).schema)
  }

  // --- regression guard: every parquet open goes through the helper ---

  /** `source` with comment lines and trailing line comments blanked. */
  private def code(source: String): String =
    source.split("\n", -1).map { line =>
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
      else line.replaceAll("\\s//.*$", "")
    }.mkString("\n")

  /** `.parquet(` calls whose receiver chain ends in a batch or streaming
    * `read` with no `.schema(...)` after it, as (line, chain text). */
  private def schemaLessReads(source: String): Seq[(Int, String)] =
    parquetReads(source).collect {
      case (line, text, chain) if !chain.contains("schema") => (line, text)
    }

  /** `.parquet(` calls whose receiver chain ends in a batch `read`, with
    * or without a schema: each lists the paths apart from the one
    * listing [[Parquets]] makes. */
  private def batchReads(source: String): Seq[(Int, String)] =
    parquetReads(source).collect {
      case (line, text, chain) if chain.headOption.contains("read") => (line, text)
    }

  /** `ParquetFileReader.open(` with one argument: it builds a fresh Hadoop
    * `Configuration`, which re-parses the bundled XML defaults. */
  private def oneArgFooterOpens(source: String): Seq[(Int, String)] = {
    val s = code(source)
    "ParquetFileReader\\.open\\(".r.findAllMatchIn(s).toSeq.flatMap { m =>
      var depth = 1
      var commas = 0
      var j = m.end
      while (j < s.length && depth > 0) {
        s(j) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case ',' if depth == 1 => commas += 1
          case _ =>
        }
        j += 1
      }
      if (commas == 0)
        Some((s.substring(0, m.start).count(_ == '\n') + 1, s.substring(m.start, j)))
      else None
    }
  }

  /** `.parquet(` calls whose receiver chain holds a batch or streaming
    * `read`, as (line, chain text, chain names from that `read` on). */
  private def parquetReads(source: String): Seq[(Int, String, List[String])] = {
    val s = code(source)
    def skipSpace(from: Int): Int = { var j = from; while (j >= 0 && s(j).isWhitespace) j -= 1; j }
    "\\.parquet\\(".r.findAllMatchIn(s).toSeq.flatMap { m =>
      var names = List.empty[String]
      var j = m.start - 1
      var start = m.start
      var more = true
      while (more) {
        j = skipSpace(j)
        if (j >= 0 && s(j) == ')') {
          var depth = 0
          while ({ if (s(j) == ')') depth += 1 else if (s(j) == '(') depth -= 1; j -= 1; depth > 0 }) ()
        }
        val end = j
        while (j >= 0 && (s(j).isLetterOrDigit || s(j) == '_')) j -= 1
        names = s.substring(j + 1, end + 1) :: names
        start = j + 1
        val k = skipSpace(j)
        if (k >= 0 && s(k) == '.') j = k - 1 else more = false
      }
      val io = names.lastIndexWhere(Set("read", "readStream", "write", "writeStream"))
      if (io >= 0 && names(io).startsWith("read"))
        Some((s.substring(0, m.start).count(_ == '\n') + 1, s.substring(start, m.end),
          names.drop(io)))
      else None
    }
  }

  test("the guard's scanner flags schema-less reads and only those") {
    assert(schemaLessReads("val d = spark.read.parquet(p)").size == 1)
    assert(schemaLessReads("val d = spark.read\n  .option(\"basePath\", s\"$r/$g\") // x\n  .parquet(ps: _*)").size == 1)
    assert(schemaLessReads("spark.read.parquet(p).repartition(2).write.parquet(q)").size == 1)
    assert(schemaLessReads("docs.sparkSession.read.parquet(p)").size == 1)
    assert(schemaLessReads("spark.readStream.option(\"a\", f(1)).parquet(p)").size == 1)
    assert(schemaLessReads("spark.read.schema(s).option(\"a\", \"b\").parquet(p)").isEmpty)
    assert(schemaLessReads("spark.readStream.schema(s)\n  .parquet(p)").isEmpty)
    assert(schemaLessReads("df.write.mode(\"overwrite\").parquet(p)").isEmpty)
    assert(schemaLessReads("  * plain `spark.read.parquet(p)` in a doc").isEmpty)
  }

  test("the guard's scanner flags batch parquet reads and one-argument footer opens, and only those") {
    assert(batchReads("spark.read.schema(s).parquet(p)").size == 1)
    assert(batchReads("spark.read.option(\"basePath\", b)\n  .schema(s).parquet(ps: _*)").size == 1)
    assert(batchReads("docs.sparkSession.read.parquet(p)").size == 1)
    assert(batchReads("spark.readStream.schema(s).parquet(p)").isEmpty)
    assert(batchReads("df.write.mode(\"overwrite\").parquet(p)").isEmpty)
    assert(batchReads("  * `spark.read.schema(s).parquet(p)` in a doc").isEmpty)
    assert(oneArgFooterOpens("ParquetFileReader.open(HadoopInputFile.fromStatus(st, hconf))").size == 1)
    assert(oneArgFooterOpens("val r = ParquetFileReader.open(\n  in)").size == 1)
    assert(oneArgFooterOpens("ParquetFileReader.open(in, HadoopReadOptions.builder(c).build())").isEmpty)
    assert(oneArgFooterOpens("ParquetFileReader.open(f(a, b), opts)").isEmpty)
    assert(oneArgFooterOpens("// ParquetFileReader.open(in)").isEmpty)
  }

  private def mainSources: Seq[File] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    def files(d: File): Seq[File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(_.getName.endsWith(".scala"))
  }

  private def hitsIn(sources: Seq[File])(scan: String => Seq[(Int, String)]): Seq[String] =
    sources.flatMap { f =>
      scan(new String(Files.readAllBytes(f.toPath), "UTF-8"))
        .map { case (line, text) => s"${f.getPath}:$line: $text" }
    }

  test("no schema-inferring parquet read in src/main/scala outside Parquets") {
    val hits = hitsIn(mainSources.filterNot(_.getName == "Parquets.scala"))(schemaLessReads)
    assert(hits.isEmpty, "route these through graft.Parquets.read:\n" + hits.mkString("\n"))
  }

  test("no batch parquet read and no one-argument footer open in src/main/scala outside Parquets") {
    val reads = hitsIn(mainSources.filterNot(_.getName == "Parquets.scala"))(batchReads)
    assert(reads.isEmpty, "route these through graft.Parquets.read or withSchema:\n" +
      reads.mkString("\n"))
    val opens = hitsIn(mainSources)(oneArgFooterOpens)
    assert(opens.isEmpty, "pass the session's configuration (ParquetFooterReader.readFooter " +
      "or HadoopReadOptions):\n" + opens.mkString("\n"))
  }
}
