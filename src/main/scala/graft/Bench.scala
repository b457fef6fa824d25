package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the given scale factor
  * and prints two JSON lines, the per-query line and the contract line
  * (see [[report]]). Each query is forced via the `noop` batch
  * writer — a real Dataset action that materializes every output column
  * (a bare `.count()` lets Catalyst prune computed columns out of
  * projection-only queries and under-reports them) AND fires
  * QueryExecutionListener, so CacheScope-scoped LSH caches are released
  * between queries instead of leaking across the battery (raw
  * `toRdd.foreach` bypassed the listener). A failing query is never
  * silently timed as success: it is reported in `errors` and its wall time
  * excluded from `value`. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JIT + codegen + parquet reader init, so the first
    // timed query measures the query rather than JVM cold start.
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    // \p{Cntrl} covers \n\r\t plus the rest of U+0000-U+001F (a \b or \f in
    // an exception message would otherwise break the single-line JSON).
    def jsonSafe(s: String): String =
      s.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(160)

    // dev-loop knobs (unset in driver runs): SPARK_GRAFT_BENCH_FILTER
    // benches a comma-separated subset; SPARK_GRAFT_BENCH_REPEAT=N times
    // each query N times and reports the MIN (steady-state, for A/B runs
    // where JIT/cache warmup would otherwise dominate the delta)
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.split(",").toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "1").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filter.forall(_.contains(name)) }
    // SPARK_GRAFT_BENCH_ASSERT_OK=1: after timing, re-run any query whose
    // schema carries a boolean `ok` claim column (the ANN recall / rank
    // self-verifications) and FAIL it if any claim is false — so scale
    // runs (sf1/sf10) gate recall exactly like the sf0.01 oracle does,
    // instead of silently timing a degraded approximation. Untimed.
    val assertOk = sys.env.get("SPARK_GRAFT_BENCH_ASSERT_OK").contains("1")
    // Self-diagnosing artifact: capture system load (1m/5m/15m averages and
    // the runnable/total task counts from /proc/loadavg) at battery start
    // and end, so a run contaminated by concurrent CPU load is detectable
    // from the committed JSON itself rather than only by re-measurement.
    // On a 32-core box an uncontended battery shows load1 well under ~40;
    // a load1 of 60+ with high runnable counts means the numbers are suspect.
    def loadSnapshot(): String = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      val parts = try src.mkString.trim.split("\\s+") finally src.close()
      val Array(run, tot) = parts(3).split("/")
      s"""{"load1":${parts(0)},"load5":${parts(1)},"load15":${parts(2)},"runnable":$run,"tasks":$tot}"""
    } catch { case scala.util.control.NonFatal(_) => "null" }
    val loadStart = loadSnapshot()
    val outcomes = selected.map { case (name, fn) =>
      val runs = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); None }
          catch {
            case e: Throwable =>
              Some(jsonSafe(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"))
          }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val claimErr =
        if (!assertOk || runs.forall(_._2.isDefined)) None
        else try {
          val df = fn(spark, sfDir)
          // every boolean claim column participates: `ok` plus the named
          // `ok_*` family (ok_merge_lossless, ok_a, ok_bound, ...) — all
          // are all-true-by-contract; intentionally varying booleans use
          // other names (pass, is_anomaly, decoded, keep)
          val claimCols = df.schema.fields.filter(f =>
            (f.name == "ok" || f.name.startsWith("ok_")) &&
              f.dataType == org.apache.spark.sql.types.BooleanType).map(_.name)
          if (claimCols.isEmpty) None
          else {
            // NULL-hostile: a claim that evaluates to NULL (e.g. a
            // comparison against a null estimate) must FAIL, not slip
            // through three-valued logic — coalesce(!c, true) makes a
            // NULL claim count as a violation.
            val anyFalse = claimCols
              .map(c => org.apache.spark.sql.functions.coalesce(
                !org.apache.spark.sql.functions.col(c),
                org.apache.spark.sql.functions.lit(true)))
              .reduce(_ || _)
            val bad = df.where(anyFalse).count()
            if (bad > 0) {
              // Diagnosable from the artifact: include sample violating rows
              // (full column values — e.g. observed est vs exact for a bound
              // claim) so a probabilistic-bound trip like sketch_cms's
              // ok_bound is debuggable without a rerun.
              val sample = df.where(anyFalse).limit(3).toJSON.collect()
                .mkString("; ").replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(600)
              Some(s"claim check failed: $bad rows false in ${claimCols.mkString("/")}; sample: $sample")
            } else None
          }
        } catch {
          case e: Throwable => Some(jsonSafe(s"claim check: ${e.getClass.getSimpleName}"))
        }
      val firstErr = runs.flatMap(_._2).headOption.orElse(claimErr)
      // UNTIMED inter-query hygiene (measurement fix, r15): Spark's
      // ContextCleaner releases dead RDD/broadcast/shuffle state only
      // after a driver GC enqueues the weak references — in a 311-query
      // battery the garbage of query N (localCheckpoint blocks, shuffle
      // files, broadcasts) otherwise ages the heap that query N+1 is
      // TIMED against (measured: graph_cc_incremental 62.3 s in-battery
      // vs 13.3 s isolated, ml_forest 16.9 vs 2.9 — same code, same
      // data). One System.gc() between queries drives the cleaner so
      // each query is measured against a clean block manager, the same
      // isolation a per-query JVM would give, without changing what any
      // query computes. Timed regions are untouched.
      System.gc()
      (name, runs.map(_._1).min, firstErr)
    }
    val line = report(Console.out, outcomes, sfDir, loadStart, loadSnapshot())
    // Lossless artifact: the driver's BENCH_rN.json keeps only a tail of
    // stdout, which has truncated the alphabetical head of the per-query
    // map every round since r4. Persist the FULL line to the repo so
    // per-query history is readable from git regardless of driver
    // truncation. Stable filename per SF; git history gives per-round
    // values. SPARK_GRAFT_BENCH_OUT overrides the path; set it to "" to
    // disable (e.g. read-only checkouts).
    val sfName = new java.io.File(sfDir).getName
    // A FILTERed dev-loop run must never clobber the committed full-battery
    // artifact (it did once — 3-query files shipped in place of the 194-query
    // battery): filtered runs write nothing unless OUT is set explicitly.
    // Default path anchors at the repo root (nearest ancestor of cwd with
    // a build.sbt) so invoking the bench from a subdirectory still lands
    // the artifact beside the committed battery files; if no root is
    // found (e.g. jar run from elsewhere) fall back to cwd-relative.
    def repoRoot: java.io.File = {
      var d = new java.io.File(".").getCanonicalFile
      while (d != null && !new java.io.File(d, "build.sbt").isFile)
        d = d.getParentFile
      if (d != null) d else new java.io.File(".").getCanonicalFile
    }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (filter.isDefined) ""
      else new java.io.File(repoRoot, s"bench_local/latest_$sfName.json").getPath)
    if (outPath.nonEmpty) try {
      val f = new java.io.File(outPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(line) finally w.close()
    } catch { // artifact write must never fail the bench — but fatals propagate
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench artifact write failed: $e")
    }
    spark.stop()
  }

  /** Prints the full per-query line, then the contract line LAST:
    * `{"metric":"total","value":…,"unit":"sec","queries":<count>,
    * "errors":<count>,"sf":"…"}`. A reader that keeps only the tail of
    * stdout still parses the total, the query count and the error count
    * from it; `value` sums the times of the queries that did not fail.
    * Returns the full line. */
  private[graft] def report(out: java.io.PrintStream, outcomes: Seq[(String, Double, Option[String])],
      sfDir: String, loadStart: String, loadEnd: String): String = {
    val qs = outcomes.map { case (k, v, _) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val errs = outcomes.collect { case (k, _, Some(e)) => s"\"$k\":\"$e\"" }
      .mkString("{", ",", "}")
    val total = outcomes.collect { case (_, v, None) => v }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","load_start":$loadStart,"load_end":$loadEnd}"""
    out.println(line)
    val nErr = outcomes.count(_._3.isDefined)
    out.println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${outcomes.size},"errors":$nErr,"sf":"$sfDir"}""")
    out.flush()
    line
  }
}
