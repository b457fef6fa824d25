package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard beside [[PlanHygieneSpec]]: a bare
  * `spark.read.parquet(path)` runs a one-task Spark job to infer the
  * schema on every call, so tables are read through `sources/Tables.read`,
  * which infers once per unchanged table, and streaming landings are read
  * with the stream's own schema. Options chained between `read` and
  * `.parquet(` (`read.option("basePath", …).parquet(…)`) infer just the
  * same, so the guard follows the chain, also across lines; a chain that
  * passes `.schema(…)` does not infer. */
class SourceHygieneSpec extends AnyFunSuite {

  /** Files whose schema-inferring reads are deliberate. */
  private val allowed = Seq(
    "graft/sources/Tables.scala",            // the cached reader itself
    "graft/streaming/Preflight.scala",       // inferring the source schema is its check
    "graft/Bench.scala",                     // the untimed warm-up scan
    "graft/tools/",                          // offline generators and calibration
    "graft/streaming/EvolvingIngest.scala",  // its landing schema evolves by design
    "graft/streaming/SnapshotHandoff.scala", // the state dir, rewritten every batch
    "graft/operators/Ann.scala")             // the index dir, written just before

  /** `read`, any number of `.option(…)` calls, then `.parquet(`. */
  private val inferringRead =
    """\bread(?:\s*\.option\((?:[^()]|\([^()]*\))*\))*\s*\.parquet\(""".r

  test("no main source outside the allowlist calls read.parquet(") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    def rel(f: Path) = root.relativize(f).toString.replace('\\', '/')
    val offenders = files.filterNot(f => allowed.exists(rel(f).startsWith)).flatMap { f =>
      val lines = Files.readAllLines(f).asScala.map(l => if (isComment(l)) "" else l)
      val text = lines.mkString("\n")
      inferringRead.findAllMatchIn(text).map { m =>
        s"${rel(f)}:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    assert(files.size > 50)
    assert(offenders.isEmpty, s"schema-inferring reads: ${offenders.mkString(", ")}")
  }

  test("the guard sees option chains and lets schema-typed reads pass") {
    def flagged(code: String) = inferringRead.findFirstIn(code).isDefined
    assert(flagged("spark.read.parquet(p)"))
    assert(flagged("""spark.read.option("basePath", dir).parquet(s"$dir/batch=*")"""))
    assert(flagged("spark.read\n  .option(\"a\", f(x))\n  .option(\"b\", 1)\n  .parquet(p)"))
    assert(!flagged("""spark.read.schema(s).option("basePath", dir).parquet(p)"""))
    assert(!flagged("""spark.read.option("a", 1).schema(s).parquet(p)"""))
    assert(!flagged("spark.readStream.parquet(p)"))
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }
}
