package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Filter, Join, LeafNode,
  LogicalPlan, Project, ResolvedHint, SubqueryAlias, Union}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables

/** Structured-Streaming ingest of the `events` table — the Spark-native
  * analogue of reader's CDC tailing loops (reference:
  * sources/mysql/streaming/iterator.go:265 binlog iterator,
  * sources/mongo/streaming.go:99 change streams,
  * sources/dynamodb/stream/shard.go shard workers).
  *
  * Reader hand-rolls per-source offset tracking (lib/storage/persistedmap,
  * sources/mysql/streaming/offset.go); Structured Streaming's checkpoint dir
  * IS that offset store — exactly-once file-source progress, crash-resumable
  * (WAL + offsets/ + commits/). `Trigger.AvailableNow` is the snapshot
  * backfill mode: drain everything currently in the source, then stop — the
  * same catch-up semantics as reader's snapshot-then-stream handoff.
  */
object EventsIngest {

  /** Stream the raw events file into a parquet landing zone with
    * checkpointed offsets, AvailableNow (runs to completion). Idempotent per
    * (landing, checkpoint) pair: a caller that wants a fresh run wipes both,
    * a caller that wants resume semantics keeps them.
    * Returns the landed row count.
    */
  def ingestAvailableNow(
      spark: SparkSession,
      eventsPath: String,
      landingDir: String,
      checkpointDir: String): Long =
    ingest(spark, eventsPath, landingDir, checkpointDir).count()

  private def ingest(
      spark: SparkSession,
      eventsPath: String,
      landingDir: String,
      checkpointDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.read(spark, eventsPath).schema
    val stream = fileStream(spark, eventsPath, schema)
      // normalize whatever physical ts type this testdata generation
      // carries to the canonical epoch-nanos long, so the landed schema
      // (and everything downstream of it) is generation-agnostic
      .withColumn("ts", Tables.tsNanos(schema("ts").dataType))
      // envelope the raw change rows exactly as the batch path does:
      // op 'r' + event-time millis (transformer.go:121)
      .withColumn("op", lit("r"))
      .withColumn("ts_ms", expr("ts div 1000000"))
    runToParquet(stream, landingDir, checkpointDir)
  }

  /** Replay-safe ingest: the same source data delivered MORE THAN ONCE
    * (reader's resume path re-reads the binlog from the last checkpoint, so
    * overlap is the normal case — sources/mysql/streaming/iterator.go
    * re-enters at the stored offset) must land exactly once. The Spark-
    * native guard is stateful streaming `dropDuplicates` on the primary
    * key: first occurrence is emitted in its own micro-batch, every replay
    * is absorbed by the state store. State is one key per row — for
    * unbounded streams use `dropDuplicatesWithinWatermark` so keys older
    * than the lateness allowance evict (the contract reader gets from
    * monotonically increasing binlog positions).
    *
    * `stagedDir` holds the (possibly replayed) source files;
    * maxFilesPerTrigger=1 makes each file its own micro-batch, the worst
    * case for replay (the duplicate arrives AFTER its original committed).
    */
  def ingestReplaySafe(
      spark: SparkSession,
      stagedDir: String,
      landingDir: String,
      checkpointDir: String,
      pkCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // fresh-run idempotent like the other ingests: the staged REPLAY is the
    // input under test; landing/checkpoint are this run's outputs
    deleteRecursive(landingDir); deleteRecursive(checkpointDir)
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedDir)
      .dropDuplicates(pkCols)
    runToParquet(stream, landingDir, checkpointDir)
  }

  /** Fresh-run wrapper: wipe landing+checkpoint, ingest, return the landed
    * DataFrame. Used by the correctness battery so re-runs are idempotent. */
  def freshIngest(spark: SparkSession, eventsPath: String, workDir: String): DataFrame = {
    val landing = s"$workDir/landing"
    val ckpt = s"$workDir/ckpt"
    deleteRecursive(landing)
    deleteRecursive(ckpt)
    ingest(spark, eventsPath, landing, ckpt)
  }

  /** Stream a parquet table path. FileStreamSource wants a directory: a
    * path that IS a directory (multi-file table, e.g. engine-written
    * part files) streams directly — hidden (_/.-prefixed) files are
    * filtered by the source; a single-FILE table path points at the parent
    * with a glob filter for that one file (a bare glob on the parent would
    * otherwise ingest sibling tables). Shared by the streaming ingests. */
  private[streaming] def fileStream(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // Resolve directory-vs-file through the Hadoop FileSystem API so the
    // branch is correct on any supported filesystem (HDFS, S3A, local),
    // not just java.io-visible local paths.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.getFileStatus(hPath).isDirectory) {
      spark.readStream.schema(schema).parquet(path)
    } else {
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", hPath.getName)
        .parquet(hPath.getParent.toString)
    }
  }

  /** Run a foreachBatch query's start-to-finish `f` in the session scope
    * that every graft stream runs in: its session keys are set for `f` and
    * restored after it (see [[scoped]]). A streaming query clones the
    * session when it starts, so the clone, and every micro-batch it plans,
    * sees these values.
    *
    * `spark.sql.shuffle.partitions` is set to the STATE partition count:
    * `SPARK_GRAFT_STREAM_STATE_PARTITIONS`, or else 8 capped at the
    * context's default parallelism. Stateful operators
    * (dropDuplicates[WithinWatermark], stream-stream joins, watermarked
    * aggregation) keep one state store per shuffle partition and write one
    * delta and commit file per store per micro-batch, so the count is sized
    * to state volume (keys per watermark horizon), not to the core count:
    * at 32 cores a core-count fan of near-empty commits ran
    * stream_ttl_dedup in 13.8 s against 6.9 s at 8. Below 8 cores the cap
    * keeps every store of a micro-batch in one task wave. Spark pins the
    * count into the checkpoint when the query first starts, and a restart
    * keeps the pinned count whatever the default says then; so a cluster
    * whose parallelism changes while it runs (dynamic allocation) should
    * set the override. foreachBatch loops get the count whatever their
    * plan: their keyed shuffles carry one micro-batch of rows.
    * [[runToParquet]] sets it only for a plan that holds state.
    *
    * `spark.sql.artifact.isolation.enabled` is set to false unless the
    * session holds session artifacts (jars or Python includes added to
    * it). Each clone with isolation gets its own artifact session: its
    * executors build a new class loader for it, and the code-generation
    * cache is keyed by class loader, so every run recompiled the classes of
    * the run before, and fetched the missing ones from the driver over RPC.
    * The clone reads the key when it is made and then runs in the caller's
    * default class-loading scope, where generated classes compile once per
    * JVM. A session with its own artifacts keeps isolation, so a UDF from
    * a session jar still loads.
    *
    * `fs.AbstractFileSystem.file.impl` is set to [[LocalCheckpointFs]].
    * Spark copies the session conf into every Hadoop conf it builds for the
    * query (offset and commit logs, state-store providers, the sink's
    * metadata log), and `FileContext` builds its file system from that conf
    * on each call, so every local checkpoint file skips Hadoop's
    * `chmod`/`readlink` subprocesses. The key names only the `file` scheme:
    * HDFS and object-store checkpoints keep their own file systems. */
  private[graft] def withStreamingScope[T](spark: SparkSession)(f: => T): T =
    scoped(spark, statePartitions(spark) ++ sessionScope(spark))(f)

  private def statePartitions(spark: SparkSession) = Seq("spark.sql.shuffle.partitions" ->
    sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTITIONS",
      math.min(8, spark.sparkContext.defaultParallelism).toString))

  /** The keys every streaming query is scoped with, stateful or not. */
  private def sessionScope(spark: SparkSession) = {
    val artifacts = spark.sessionState.artifactManager
    val shared = if (artifacts.getAddedJars.isEmpty && artifacts.getPythonIncludes.isEmpty)
      Seq("spark.sql.artifact.isolation.enabled" -> "false") else Nil
    shared :+ ("fs.AbstractFileSystem.file.impl" -> classOf[LocalCheckpointFs].getName)
  }

  /** Run `f` with the session keys `conf` set, restoring each after (or
    * unsetting it, if it had no session value), also when `f` throws. */
  private def scoped[T](spark: SparkSession, conf: Seq[(String, String)])(f: => T): T = {
    val session = spark.sessionState.conf
    val prev = conf.map { case (k, _) =>
      k -> Option.when(session.contains(k))(session.getConfString(k))
    }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    // restore only after the blocking run completes: streams clone the
    // session conf on their own thread, so restoring right after start()
    // would race the clone
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One entry per stateful operator in a streaming query's analyzed plan:
    * true for an inner stream-stream join. A streaming node not known to
    * be stateless counts as stateful and not inner, so an unknown operator
    * keeps the conservative scope. */
  private def statefulOps(plan: LogicalPlan): Seq[Boolean] = plan.collect {
    case j: Join if j.left.isStreaming && j.right.isStreaming => j.joinType == Inner
    case n if n.isStreaming && !stateless(n) => false
  }

  private def stateless(n: LogicalPlan): Boolean = n match {
    case _: LeafNode | _: Project | _: Filter | _: EventTimeWatermark | _: SubqueryAlias
        | _: Union | _: ResolvedHint | _: Join => true // a stream-static join keeps no state
    case _ => false
  }

  /** Run `stream` to a parquet landing zone with AvailableNow + checkpoint,
    * block to completion, and return the landed data, read with the
    * stream's own schema: no inference job, and a run that landed nothing
    * reads back as an empty frame. Shared by the streaming ingests.
    *
    * The query runs in the session scope of [[withStreamingScope]], and
    * its analyzed plan decides which keys of it apply. Every query gets
    * [[LocalCheckpointFs]] and, unless the session holds its own
    * artifacts, the caller's class-loading scope, so a rerun reuses the
    * classes the last run compiled. A plan that holds a stateful operator
    * also gets the state partition count; a stateless one keeps the
    * session's. When every stateful operator is an INNER
    * stream-stream join, `spark.sql.streaming.noDataMicroBatches.enabled`
    * is off for the query: the no-data micro-batch that AvailableNow
    * otherwise ends on only advances the watermark and evicts join state,
    * and an inner join emits nothing at eviction. The eviction is deferred,
    * not lost: the run commits the advanced watermark, and a restart from
    * the checkpoint evicts in its first batch. Every other stateful query
    * keeps the batch. Outer joins, append-mode aggregation, group-state
    * timeouts and session windows emit at eviction; dedup emits nothing
    * then, but a dedup state hit drops a row without re-checking its
    * expiry, so deferring eviction to the next run could change what a
    * restarted run emits. */
  private[streaming] def runToParquet(
      stream: DataFrame,
      landingDir: String,
      checkpointDir: String,
      outputMode: Option[org.apache.spark.sql.streaming.OutputMode] = None): DataFrame = {
    val spark = stream.sparkSession
    val ops = statefulOps(stream.queryExecution.analyzed)
    val conf = sessionScope(spark) ++
      (if (ops.nonEmpty) statePartitions(spark) else Nil) ++
      (if (ops.nonEmpty && ops.forall(identity))
        Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      else Nil)
    scoped(spark, conf) {
      val writer = stream.writeStream
        .format("parquet")
        .option("path", landingDir)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
      val q = outputMode.fold(writer)(writer.outputMode).start()
      q.awaitTermination()
    }
    spark.read.schema(stream.schema).parquet(landingDir)
  }

  /** Shared by the streaming ingests (EvolvingIngest, WatermarkAgg). */
  private[streaming] def deleteRecursive(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
    }
  }
}
