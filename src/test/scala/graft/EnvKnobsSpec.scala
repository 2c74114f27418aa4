package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Regression guard: `GraftConfig.fromEnv` is the only reader of the
  * engine's `GRAFT_*` / `SPARK_GRAFT_*` variables, and the engine knows
  * exactly the nine names SCALE.md "Knobs and alternate paths" accounts
  * for. A new knob, or a direct env read beside the config, fails here. */
class EnvKnobsSpec extends AnyFunSuite {
  private val Knobs = Set("GRAFT_CPUS", "GRAFT_SF_DIR", "GRAFT_BENCH_OUT",
    "GRAFT_BENCH_REPS", "GRAFT_MERGE_ORDER_COL", "GRAFT_TOLERANT",
    "GRAFT_BENCH_ONLY", "GRAFT_VERIFY_ONLY", "GRAFT_BENCH_MODE")

  /** The source with line and doc comments blanked (line count kept). */
  private def code(source: String): String =
    source.split("\n", -1).map { line =>
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
      else line.replaceAll("\\s//.*$", "")
    }.mkString("\n")

  private val Lookup = ("""(?:sys\s*\.\s*env|System\s*\.\s*getenv|\benv)\s*""" +
    """(?:\.\s*(?:get|getOrElse|contains|apply|isDefinedAt|lift)\s*)?""" +
    """\(\s*s?"((?:SPARK_)?GRAFT_[A-Z_]*)""").r

  /** Env lookups of a GRAFT_ name, as (line, name). */
  private def envLookups(source: String): Seq[(Int, String)] = {
    val s = code(source)
    Lookup.findAllMatchIn(s).map(m =>
      (s.substring(0, m.start).count(_ == '\n') + 1, m.group(1))).toSeq
  }

  /** Every GRAFT_ name in a string literal. */
  private def namedKnobs(source: String): Set[String] =
    "\"[^\"\\n]*?\\b(?:SPARK_)?(GRAFT_[A-Z_]+)".r
      .findAllMatchIn(code(source)).map(_.group(1)).toSet

  private def mainSources: Seq[File] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    def files(d: File): Seq[File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(_.getName.endsWith(".scala"))
  }

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath), "UTF-8")

  test("the guard's scanner flags env lookups of GRAFT_ names and only those") {
    assert(envLookups("""sys.env.getOrElse("GRAFT_AQE", "true")""") == Seq(1 -> "GRAFT_AQE"))
    assert(envLookups("""if (sys.env.contains("GRAFT_X")) 1""").size == 1)
    assert(envLookups("""System.getenv("SPARK_GRAFT_CPUS")""") == Seq(1 -> "SPARK_GRAFT_CPUS"))
    assert(envLookups("""val c = sys.env("GRAFT_CPUS")""").size == 1)
    assert(envLookups("""cpus = env.get("GRAFT_CPUS")""").size == 1)
    assert(envLookups("val a = 1\nsys.env\n  .get(\"GRAFT_X\")") == Seq(2 -> "GRAFT_X"))
    assert(envLookups("""// sys.env.get("GRAFT_X")""").isEmpty)
    assert(envLookups("""  * doc: `sys.env("GRAFT_X")`""").isEmpty)
    assert(envLookups("""sys.env.get("HOME")""").isEmpty)
    assert(envLookups("""println("GRAFT_X matched nothing")""").isEmpty)
    assert(namedKnobs("""println("[bench] GRAFT_BENCH_ONLY matched")""") == Set("GRAFT_BENCH_ONLY"))
    assert(namedKnobs("""get("SPARK_GRAFT_CPUS")""") == Set("GRAFT_CPUS"))
    assert(namedKnobs("""// "GRAFT_X"""").isEmpty)
  }

  test("no GRAFT_ env lookup in src/main/scala outside GraftConfig") {
    val hits = mainSources.filterNot(_.getName == "GraftConfig.scala").flatMap { f =>
      envLookups(read(f)).map { case (line, name) => s"${f.getPath}:$line: $name" }
    }
    assert(hits.isEmpty, "read these through GraftConfig.fromEnv:\n" + hits.mkString("\n"))
  }

  test("GraftConfig holds the nine knobs, and src/main/scala names no other") {
    val config = mainSources.find(_.getName == "GraftConfig.scala")
      .getOrElse(fail("GraftConfig.scala not found"))
    val configSource = read(config)
    assert(namedKnobs(configSource) == Knobs)
    assert(envLookups(configSource).nonEmpty,
      "the scanner must see GraftConfig's own lookups (non-vacuity)")
    val named = mainSources.flatMap(f => namedKnobs(read(f))).toSet
    assert(named == Knobs, s"unaccounted knobs: ${named -- Knobs}")
  }
}
