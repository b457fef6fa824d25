package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{ChecksumException, FileContext}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.sinks.BatchedSink
import graft.sources.Tables
import graft.storage.PersistedMap
import graft.streaming.{EventsIngest, LocalCheckpointFs}

class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("persisted map survives reload and malformed tails") {
    val f = Files.createTempDirectory("pm").resolve("offsets.tsv").toString
    val m = PersistedMap(f)
    m.put("table.lineitem.last_pk", "12345")
    m.put("weird key\twith\ttabs", "value\nwith newline")
    val m2 = PersistedMap(f)
    assert(m2.get("table.lineitem.last_pk").contains("12345"))
    assert(m2.get("weird key\twith\ttabs").contains("value\nwith newline"))
    m2.remove("table.lineitem.last_pk")
    assert(PersistedMap(f).get("table.lineitem.last_pk").isEmpty)
  }

  /** Order-independent content hash of `cols`: the sum of per-row xxhash64
    * values as an exact decimal (a long sum overflows under ANSI). */
  private def contentHash(cols: Seq[String]): Column =
    sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))

  private def ls(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** batch id -> (name, size, mtime) of each parquet file in its
    * `batch_id=<k>` directory. */
  private def batchFiles(out: String): Map[Long, Seq[(String, Long, Long)]] =
    ls(Paths.get(out)).filter(_.getFileName.toString.startsWith("batch_id=")).map { d =>
      d.getFileName.toString.stripPrefix("batch_id=").toLong ->
        ls(d).filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
          (f.getFileName.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)
        }.sortBy(_._1)
    }.toMap

  /** batch id -> (row count, content hash) of the landed rows. */
  private def landedBatches(out: String, cols: Seq[String]): Map[Long, (Long, BigDecimal)] =
    spark.read.parquet(out)
      .groupBy(col("batch_id").cast("long"))
      .agg(count(lit(1)), contentHash(cols))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap

  test("batched sink manifest partitions the keyspace without loss") {
    val out = Files.createTempDirectory("sink").toString
    val li = Tables.lineitem(spark, Sf)
    val manifest = BatchedSink.writeBatched(li, "l_orderkey", 512L, out)
    val total = manifest.agg(sum("n_rows")).head().getLong(0)
    assert(total === li.count())
    // batch bounds nest inside the batch keyspan
    val bad = manifest.where(
      col("min_pk") < col("batch_id") * 512 || col("max_pk") >= (col("batch_id") + 1) * 512)
    assert(bad.count() === 0)
    // the landed output: one file per batch directory ...
    val files = batchFiles(out)
    assert(files.size === 3 && files.values.forall(_.size == 1), files)
    // ... holding exactly the input rows ...
    val landed = spark.read.parquet(out)
    val cols = li.columns.toSeq
    assert(landed.agg(count(lit(1)), contentHash(cols)).head() ===
      li.agg(count(lit(1)), contentHash(cols)).head())
    // ... and the manifest is the per-batch census of what landed
    val census = landed
      .groupBy(col("batch_id").cast("long"))
      .agg(count(lit(1)), min("l_orderkey").cast("long"), max("l_orderkey").cast("long"))
    assert(manifest.collect().toSet === census.collect().toSet)
  }

  test("republishing a subset of batches rewrites only those, idempotently") {
    val out = Files.createTempDirectory("sink").toString
    val li = Tables.lineitem(spark, Sf)
    val cols = li.columns.toSeq
    BatchedSink.writeBatched(li, "l_orderkey", 512L, out)
    val files0 = batchFiles(out)
    val content0 = landedBatches(out, cols)
    assert(files0.keySet === Set(0L, 1L, 2L))
    // republish batches 0-1 only: batch 2's directory must not be touched
    val sub = BatchedSink.writeBatched(li.where(col("l_orderkey") < 1024), "l_orderkey", 512L, out)
    assert(sub.select("batch_id").collect().map(_.getLong(0)).toSet === Set(0L, 1L))
    val files1 = batchFiles(out)
    assert(files1.keySet === files0.keySet)
    assert(files1(2L) === files0(2L))
    for (b <- Seq(0L, 1L)) {
      assert(files1(b).size === 1)
      assert(files1(b).head._1 !== files0(b).head._1, s"batch $b was not rewritten")
    }
    assert(landedBatches(out, cols) === content0)
    // a full rewrite reproduces every batch
    BatchedSink.writeBatched(li, "l_orderkey", 512L, out)
    assert(batchFiles(out).values.forall(_.size == 1))
    assert(landedBatches(out, cols) === content0)
  }

  test("batched write runs no stage wider than spark.sql.shuffle.partitions") {
    val out = Files.createTempDirectory("sink").toString
    val li = Tables.lineitem(spark, Sf)
    val sc = spark.sparkContext
    val stageTasks = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.add(e.stageInfo.numTasks)
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      BatchedSink.writeBatched(li, "l_orderkey", 512L, out)
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    val limit = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val tasks = stageTasks.asScala.toSeq
    assert(tasks.nonEmpty)
    assert(tasks.forall(_ <= limit), s"stage task counts $tasks exceed $limit")
  }

  test("streaming AvailableNow ingest lands exactly the batch rows, checkpointed") {
    val work = Files.createTempDirectory("stream").toString
    val landed = EventsIngest.freshIngest(spark, s"$Sf/events.parquet", work)
    val batch = Tables.events(spark, Sf)
    assert(landed.count() === batch.count())
    // offsets were checkpointed (reader's persistedmap analogue)
    assert(Files.exists(java.nio.file.Paths.get(s"$work/ckpt/offsets")))
    def restart(): Long = EventsIngest.ingestAvailableNow(
      spark, s"$Sf/events.parquet", s"$work/landing", s"$work/ckpt")
    // re-running with the same checkpoint ingests nothing new (exactly-once)
    assert(restart() === batch.count())

    // what landed, read through the sink's log and as files on disk
    val cols = landed.columns.toSeq
    def landedState() = (
      spark.read.parquet(s"$work/landing")
        .agg(count(lit(1)), countDistinct(col("event_id")), contentHash(cols)).head(),
      ls(Paths.get(s"$work/landing")).map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).sorted)
    val landed0 = landedState()
    assert(landed0._1.getLong(0) === batch.count())
    assert(landed0._1.getLong(1) === batch.count(), "duplicate event_ids landed")
    val commits = Paths.get(s"$work/ckpt/commits")
    val offsets = Paths.get(s"$work/ckpt/offsets")
    val last = ls(commits).map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).max

    // crash after the sink wrote batch `last` but before its commit-log
    // entry: the restart re-runs the batch and the sink's own log skips it
    Files.delete(commits.resolve(s"$last"))
    Files.delete(commits.resolve(s".$last.crc"))
    assert(restart() === batch.count())
    assert(landedState() === landed0)
    assert(Files.exists(commits.resolve(s"$last")), "the re-run batch was not committed")

    // a corrupt offset-log entry stops the restart instead of being read as
    // valid: the last digit of the batch timestamp, which still parses
    val entry = offsets.resolve(s"$last")
    val bytes = Files.readAllBytes(entry)
    val from = new String(bytes, "UTF-8").indexOf("\"batchTimestampMs\":") + 19
    val at = bytes.indexWhere(b => !b.toChar.isDigit, from) - 1
    assert(at > from)
    bytes(at) = (bytes(at) ^ 1).toByte
    Files.write(entry, bytes)
    val err = intercept[Exception](restart())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), err)
    assert(landedState() === landed0)
  }

  test("streaming scope restores the session keys it sets, also when its body throws") {
    val impl = "fs.AbstractFileSystem.file.impl"
    val isolation = "spark.sql.artifact.isolation.enabled"
    val keys = Seq("spark.sql.shuffle.partitions", impl, isolation)
    def session() = keys.map(spark.conf.getOption)
    val before = session()
    assert(before(1).isEmpty, s"$impl is set in the test session")
    // the isolation key has a default, so `before` reads it either way
    def restored() = {
      assert(session() === before)
      assert(!spark.sessionState.conf.contains(isolation), s"$isolation was left set")
    }
    restored()

    EventsIngest.freshIngest(spark, s"$Sf/events.parquet",
      Files.createTempDirectory("scope").toString)
    restored()

    EventsIngest.withStreamingScope(spark) {
      val fc = FileContext.getFileContext(
        Files.createTempDirectory("scope").toUri, spark.sessionState.newHadoopConf())
      assert(fc.getDefaultFileSystem.isInstanceOf[LocalCheckpointFs])
      assert(spark.conf.get(keys(0)) === sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTITIONS",
        math.min(8, spark.sparkContext.defaultParallelism).toString))
      assert(spark.conf.get(isolation) === "false")
    }
    restored()

    intercept[IllegalStateException](
      EventsIngest.withStreamingScope(spark)(throw new IllegalStateException("body failed")))
    restored()

    // a key that had a session value gets that value back
    spark.conf.set(impl, classOf[LocalFs].getName)
    try {
      EventsIngest.withStreamingScope(spark)(())
      assert(spark.conf.getOption(impl) === Some(classOf[LocalFs].getName))
    } finally spark.conf.unset(impl)
    restored()
  }
}
