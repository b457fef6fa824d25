package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Dev utility: run named queries once and print timings.
  * Usage: runMain graft.RunOne <sfDir> <name1,name2,...> [explain|show]
  *
  * Each lane's line ends with `compiles=<n>`: the classes Spark's code
  * generator compiled in this JVM (driver and local executors) while the
  * lane ran. A lane named twice compiles 0 on its repeat unless something
  * defeats the code-generation cache, e.g. a class loader per run.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",")
    val explain = args.length > 2 && args(2).startsWith("explain")
    // "explainonly": print the plan but skip the executing count — for
    // committing plan dumps without paying a full run per lane (note the
    // BSP operators still run their fixpoint jobs during query BUILD)
    val explainOnly = args.length > 2 && args(2) == "explainonly"
    val show = args.length > 2 && args(2) == "show"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach { name =>
      val t0 = System.nanoTime()
      val c0 = compiled
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (explain) df.explain("formatted")
      if (show) df.show(100, false)
      if (explainOnly) {
        println(f"[runone] $name explained in ${(System.nanoTime() - t0) / 1e9}%.1fs compiles=${compiled - c0}")
      } else {
        val n = df.count()
        println(f"[runone] $name rows=$n in ${(System.nanoTime() - t0) / 1e9}%.1fs compiles=${compiled - c0}")
      }
    }
    spark.stop()
  }
}
