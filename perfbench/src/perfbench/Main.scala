package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftExtensions

/** One benchmark process: set-up, a cold pass over the workload's lanes,
  * then a given number of warm passes, all from one client thread on
  * `local[nproc]`. Writes every raw figure to `--out` as JSON;
  * `run.py` turns them into metrics.
  *
  * Modes: the default measures; `--setup-only` stops after set-up (extra
  * set-up samples); `--dump <dir>` runs each lane once and writes its
  * output as parquet (for the DuckDB oracle check); `--selftest` checks
  * the digest's independence from row order and partitioning. */
object Main {
  private final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  private def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    Args(kv)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Untimed warm-up, as `graft.Bench` does: a scan and a keyed aggregate. */
  private def warmUp(spark: SparkSession, input: String, table: String): Unit =
    spark.read.parquet(s"$input/$table.parquet").selectExpr("hash(*) % 8 as k")
      .groupBy("k").count().collect()

  /** Order-independent digest of every output column: (row count, sum of
    * per-row 64-bit hashes as an exact decimal). Forces the whole frame. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toList.reverse
      all.foreach(f => Files.deleteIfExists(f))
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def fileCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(Files.isRegularFile(_)).toLong

  /** Bytes under the streaming checkpoints below `p` (a checkpoint is a
    * directory holding an `offsets` log). */
  def checkpointBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(d => Files.isDirectory(d) && Files.isDirectory(d.resolve("offsets")))
      .map(dirBytes).sum

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case _: Exception => "" }

  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  /** `SparkEntry`'s work root, where the lanes that write put their files.
    * The benchmark's build makes it the system property
    * `perfbench.graftRoot`, which `main` points at `<work>/graft`. */
  def graftRoot: Path = Paths.get(sys.props("perfbench.graftRoot"))

  /** Untimed hygiene between lanes, as `graft.Bench` does: a full
    * collection lets the ContextCleaner drop the previous lane's blocks.
    * Returns the heap left in use after it: what the program keeps live. */
  def collect(): Long = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.get("selftest").isDefined) { SelfTest.run(a("work"), a("out")); return }
    val workload = a("workload")
    val lanes = Lanes.workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val input = a("input")
    val work = a("work")
    val out = a("out")
    sys.props("perfbench.graftRoot") = Paths.get(work, "graft").toString
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()
    val mainMs = System.currentTimeMillis()
    val spark = session(work)
    val sessionMs = System.currentTimeMillis()
    warmUp(spark, input, Lanes.tablesRead(lanes.head).head)
    val readyMs = System.currentTimeMillis()
    val base = Json.obj("workload" -> workload, "jvm_start_epoch_ms" -> jvmStartMs,
      "main_epoch_ms" -> mainMs, "session_epoch_ms" -> sessionMs, "ready_epoch_ms" -> readyMs,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "load_start" -> loadStart)

    val result =
      if (a.get("setup-only").isDefined) base
      else if (a.get("dump").isDefined) base ++ Dump.run(spark, lanes, input, a("dump"))
      else {
        val run = new Run(spark, workload, input, work, a("warm-passes").toInt,
          traced = a.get("trace").contains("1"))
        base ++ run.measure()
      }
    val rss = peakRssKb()
    val heapCommitted =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    spark.stop()
    Json.write(out, result ++ Json.obj("peak_rss_kb" -> rss,
      "heap_committed_bytes" -> heapCommitted, "load_end" -> loadavg()))
  }
}

/** The measuring loop: cold pass, then `warmPasses` warm passes. With
  * tracing on, warm passes alternate between untraced and traced
  * (listeners attached), which gives the tracing overhead from one
  * process; the layer probes run after each traced pass, outside its
  * timing. */
final class Run(spark: SparkSession, workload: String, input: String, work: String,
    warmPasses: Int, traced: Boolean) {
  import Main._

  private val lanes = Lanes.workloads(workload)
  private val tracer = new Tracer(spark)
  /** Batch ids sink_batch landed in the current pass. */
  private var landed = Seq.empty[String]

  private def laneRun(lane: String): Map[String, Any] = {
    deleteRecursive(graftRoot)
    val live = collect()
    val span = if (Trace.enabled) Some(Trace.open()) else None
    span.foreach(o => tracer.setLane(o.id))
    val t0 = System.nanoTime()
    val (rows, sum, err) =
      try {
        // lanes that write do so while their frame is built
        val df = Trace.span("lane.build") { Lanes.lane(lane, spark, input) }
        val (n, h) = digest(df)
        (n, h, null)
      } catch {
        case e: Throwable =>
          (-1L, BigDecimal(0), s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .take(300))
      }
    val secs = (System.nanoTime() - t0) / 1e9
    span.foreach { o =>
      Trace.close(o, "lane", Map("lane" -> lane))
      tracer.drain() // the lane's jobs and events reach the listeners while it is current
      tracer.setLane(0L)
    }
    if (lane == "sink_batch") landed = batchIds()
    Json.obj("lane" -> lane, "s" -> secs, "rows" -> rows, "hashsum" -> sum.toString,
      "error" -> err, "write_bytes" -> dirBytes(graftRoot), "files" -> fileCount(graftRoot),
      "checkpoint_bytes" -> checkpointBytes(graftRoot), "heap_live_before" -> live)
  }

  /** The `batch_id=` directories under sink_batch's work directory. */
  private def batchIds(): Seq[String] =
    Option(graftRoot.toFile.listFiles()).toSeq.flatten.filter(_.getName.startsWith("sink_"))
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .map(_.getName).filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=")).sorted

  /** Reader commits an offset after each publish: every landed batch id of
    * sink_batch is committed through PersistedMap.put. */
  private def commitOffsets(): (Double, Seq[Double]) = {
    val ids = landed
    val store = Paths.get(work, "offsets", "sink_batch.tsv")
    deleteRecursive(store.getParent)
    val t0 = System.nanoTime()
    val each = Trace.span("storage.commit_offsets") {
      val m = graft.storage.PersistedMap(store.toString)
      ids.map { id =>
        val c0 = System.nanoTime()
        m.put(s"lineitem/batch/$id", "landed")
        (System.nanoTime() - c0) / 1e6
      }
    }
    ((System.nanoTime() - t0) / 1e9, each)
  }

  private def pass(kind: String): Map[String, Any] =
    Trace.span("pass", Map("kind" -> kind)) {
      val results = lanes.map(laneRun)
      val (commitS, commits) =
        if (lanes.contains("sink_batch")) commitOffsets() else (0.0, Seq.empty[Double])
      Json.obj("kind" -> kind, "traced" -> Trace.enabled, "lanes" -> results,
        "commit_s" -> commitS, "commit_ms" -> commits)
    }

  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  def measure(): Map[String, Any] = {
    if (traced) tracer.attach()
    val (c0, ms0) = codegen()
    val t0 = System.nanoTime()
    val cold = pass("cold")
    val (c1, ms1) = codegen()
    val passes = Seq.newBuilder[Map[String, Any]] += cold
    val probes = Seq.newBuilder[Map[String, Any]]
    for (warm <- 0 until warmPasses) {
      val tracedPass = traced && warm % 2 == 1
      if (tracedPass) tracer.attach() else tracer.detach()
      passes += pass("warm")
      if (tracedPass) probes += Probes.run(spark, workload, input, tracer)
    }
    tracer.detach()
    deleteRecursive(graftRoot)
    val liveEnd = collect()
    val inputBytes = lanes.flatMap(Lanes.tablesRead).distinct.map { t =>
      t -> dirBytes(Paths.get(input, s"$t.parquet"))
    }.toMap
    Json.obj("passes" -> passes.result(), "input_bytes" -> inputBytes,
      "lane_tables" -> lanes.map(l => l -> Lanes.tablesRead(l)).toMap,
      "all_lanes" -> Lanes.workloads.values.flatten.toSeq.sorted,
      "measured_s" -> (System.nanoTime() - t0) / 1e9, "heap_live_end" -> liveEnd) ++
      (if (!traced) Json.obj()
       else Json.obj(
         "codegen_classes" -> (c1 - c0),
         // the reservoir keeps every sample below 1028 compilations; past
         // that, the snapshot sum undercounts and the count is still exact
         "codegen_compile_ms" -> (ms1 - ms0),
         "probes" -> probes.result(),
         "spans" -> Trace.spans.map { s =>
           Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
             "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs)
         }))
  }
}
