package graft.streaming

import java.nio.file.{Files, Path}
import java.util.jar.JarOutputStream
import java.util.zip.ZipEntry

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The session scope every stream runs in: a rerun reuses the classes the
  * last run compiled, and a session that holds its own jar keeps artifact
  * isolation, so a stream can still run a UDF from that jar. */
class StreamScopeSpec extends AnyFunSuite {
  import TestSpark._

  private val isolation = "spark.sql.artifact.isolation.enabled"

  private def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a rerun of the stream join compiles no class") {
    val events = s"$Sf/events.parquet"
    val runs = (1 to 3).map { i =>
      val dir = Files.createTempDirectory(s"scope_compile$i").toString
      val c0 = compiled
      val n = StreamJoin.clicksWithRecentPurchases(spark, events, dir).count()
      (n, compiled - c0)
    }
    assert(runs.head._1 > 0 && runs.map(_._1).distinct.size === 1, runs)
    assert(runs.head._2 > 0, "the first run compiles its classes")
    assert(runs.tail.map(_._2) === Seq(0L, 0L), s"(rows, compiles) per run: $runs")
  }

  /** A jar holding `GraftScopeProbe`, a Java UDF that doubles an int,
    * compiled from source against Spark's `UDF1`. */
  private def probeJar(): Path = {
    val dir = Files.createTempDirectory("scope_jar")
    val src = Files.writeString(dir.resolve("GraftScopeProbe.java"),
      """public class GraftScopeProbe
        |    implements org.apache.spark.sql.api.java.UDF1<Integer, Integer> {
        |  public Integer call(Integer x) { return 2 * x; }
        |}""".stripMargin)
    val api = Path.of(classOf[UDF1[_, _]].getProtectionDomain.getCodeSource.getLocation.toURI)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac != null, "the test JVM has no Java compiler")
    assert(javac.run(null, null, null, "-cp", api.toString, "-d", dir.toString, src.toString) === 0)
    val jar = dir.resolve("probe.jar")
    val out = new JarOutputStream(Files.newOutputStream(jar))
    try {
      out.putNextEntry(new ZipEntry("GraftScopeProbe.class"))
      out.write(Files.readAllBytes(dir.resolve("GraftScopeProbe.class")))
      out.closeEntry()
    } finally out.close()
    jar
  }

  test("a session with its own jar keeps isolation, and its stream still loads the jar's UDF") {
    import spark.implicits._
    val dir = Files.createTempDirectory("scope_artifact").toString
    (1 to 20).toDF("x").coalesce(1).write.parquet(s"$dir/in")

    val session = spark.newSession()
    session.addArtifact(probeJar().toString)
    val artifacts = session.sessionState.artifactManager
    assert(artifacts.getAddedJars.nonEmpty)
    val before = session.conf.getOption(isolation)
    EventsIngest.withStreamingScope(session) {
      assert(session.conf.getOption(isolation) === before)
      assert(!session.sessionState.conf.contains(isolation))
    }
    EventsIngest.withStreamingScope(spark) {
      assert(spark.conf.get(isolation) === "false", "a session without artifacts shares")
    }

    // the UDF's class lives only in the session's jar: the stream's tasks
    // load it when they deserialize the UDF on the executors
    val twice = artifacts.classloader.loadClass("GraftScopeProbe")
      .getDeclaredConstructor().newInstance().asInstanceOf[UDF1[Integer, Integer]]
    val stream = session.readStream.schema("x INT").parquet(s"$dir/in")
      .select(col("x"), udf(twice, IntegerType)(col("x")).as("y"))
    val landed = EventsIngest.runToParquet(stream, s"$dir/landing", s"$dir/ckpt")
    val got = landed.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got === (1 to 20).map(x => x -> 2 * x).toMap)
  }
}
