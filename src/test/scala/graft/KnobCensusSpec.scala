package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable, JVM system property and `graft.*` /
  * `spark.graft.*` conf key the program reads, as a literal list: a
  * new knob (or a removed one) shows up as a diff of this file. The
  * scan covers `sys.env.get*`/`System.getenv`, `sys.props.get*`/
  * `System.getProperty` and double-quoted conf-key literals under
  * `src/main/scala`. */
class KnobCensusSpec extends AnyFunSuite {

  private val declared = Set(
    "env:GRAFT_COSINE_MAX_ROWS",
    "env:GRAFT_TOPIC_TRANSPORT",
    "env:SPARK_GRAFT_BENCH_ONLY",
    "env:SPARK_GRAFT_BENCH_RECORD",
    "env:SPARK_GRAFT_BENCH_RUNS",
    "env:SPARK_GRAFT_CPUS",
    "env:SPARK_GRAFT_FLOOR_RUNS",
    "env:SPARK_GRAFT_SF_DIR",
    "env:SPARK_GRAFT_SOAK_COMPOSED",
    "env:SPARK_GRAFT_SOAK_EXPANDK",
    "env:SPARK_GRAFT_SOAK_FILES",
    "env:SPARK_GRAFT_SOAK_LEGS",
    "env:SPARK_GRAFT_SOAK_MM",
    "env:SPARK_GRAFT_SOAK_REBUCKET",
    "env:SPARK_GRAFT_SOAK_TOMB",
    "env:SPARK_GRAFT_STREAM_BENCH",
    "env:SPARK_GRAFT_STREAM_ONLY",
    "env:SPARK_GRAFT_STREAM_PASSES",
    "env:SPARK_GRAFT_STREAM_SCALE",
    "env:SPARK_GRAFT_STREAM_SCALING",
    "prop:GRAFT_COSINE_MAX_ROWS",
    "conf:graft.topic.transport")

  private val patterns = Seq(
    "env" -> """(?:sys\.env\.get\w*|System\.getenv)\(\s*"([^"]+)"""".r,
    "prop" -> """(?:sys\.props\.get\w*|System\.getProperty)\(\s*"([^"]+)"""".r,
    "conf" -> """"((?:spark\.)?graft\.[^"\s]*)"""".r)

  /** `(path, source)` of every `.scala` file under `src/main/scala`. */
  private def mainSources(): Vector[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root missing")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
      .map(f => (f.toString, new String(java.nio.file.Files.readAllBytes(f), "UTF-8")))
  }

  test("knob census: the env vars, system properties and conf keys src/main reads equal the declared list") {
    val sources = mainSources()
    val found = sources.flatMap { case (_, src) =>
      patterns.flatMap { case (kind, re) =>
        re.findAllMatchIn(src).map(m => s"$kind:${m.group(1)}")
      }
    }.toSet
    assert(found -- declared === Set.empty[String], "knobs read but not declared here")
    assert(declared -- found === Set.empty[String], "declared knobs no longer read")
    // a key passed through a val is invisible to the literal scan
    // above, so every env/property read must spell its key literally
    val anyRead = """(?:sys\.env\.get\w*|System\.getenv|sys\.props\.get\w*|System\.getProperty)\(\s*([^\s)])""".r
    val nonLiteral = sources.flatMap { case (path, src) =>
      anyRead.findAllMatchIn(src).filter(_.group(1) != "\"")
        .map(m => s"$path:${src.take(m.start).count(_ == '\n') + 1}")
    }
    assert(nonLiteral.isEmpty, "env/property reads without a string-literal key")
  }

  test("no orphaned scaladoc: a /** … */ block is never followed directly by another /**") {
    // scaladoc attaches only the LAST of two adjacent blocks; the
    // earlier text silently documents nothing
    val orphan = """\*/\s*/\*\*""".r
    val found = mainSources().flatMap { case (path, src) =>
      orphan.findAllMatchIn(src).map(m => s"$path:${src.take(m.start).count(_ == '\n') + 1}")
    }
    assert(found.isEmpty, "orphaned scaladoc blocks")
  }
}
