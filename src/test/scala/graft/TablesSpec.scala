package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The PHYSICAL type of `events.ts` changed across testdata generations:
  * parquet TIMESTAMP(NANOS) (surfaced as a raw long under
  * `spark.sql.legacy.parquet.nanosAsLong`) through round 8, plain
  * microsecond TIMESTAMP/TIMESTAMP_NTZ from round 9's regeneration — the
  * round-9 driver gate lost every events-backed query to exactly this
  * drift. Pin the loader's contract so it can never regress silently:
  * whatever physical shape the file carries, `Tables.events` yields the
  * same canonical (ts_ns epoch-nanos long, ts_ntz µs TIMESTAMP_NTZ) view.
  */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("events loader normalizes long-nanos, TIMESTAMP, and TIMESTAMP_NTZ generations identically") {
    // nanos deliberately NOT µs-aligned: ...789 ns documents the truncation
    val base = Seq(
      (1L, 1704067200123456789L, 10L, "click", 1.5, "{}"),
      (2L, 1704070800987654321L, 11L, "view", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val work = java.nio.file.Files.createTempDirectory("tables_spec").toString
    def gen(name: String)(f: DataFrame => DataFrame): String = {
      f(base).coalesce(1).write.mode("overwrite").parquet(s"$work/$name/events.parquet")
      s"$work/$name"
    }
    val usec = (df: DataFrame) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val genLong = gen("long")(identity) // pre-r9 shape: raw int64 nanos
    val genTs   = gen("ts")(usec)
    val genNtz  = gen("ntz")(d => usec(d).withColumn("ts", col("ts").cast("timestamp_ntz")))

    def load(dir: String) = Tables.events(spark, dir)
      .select("event_id", "ts_ns", "ts_ntz").orderBy("event_id")

    val Seq(outLong, outTs, outNtz) = Seq(genLong, genTs, genNtz).map(load)
    // identical canonical schema whatever the physical input type
    assert(outLong.schema == outTs.schema && outTs.schema == outNtz.schema)

    val rowsLong = outLong.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.get(2)))
    val rowsTs   = outTs.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.get(2)))
    val rowsNtz  = outNtz.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.get(2)))
    // µs-precision generations agree bit-for-bit with each other and equal
    // the nano generation truncated to µs (the same truncation DuckDB
    // applies reading the file, so oracle agreement is per-generation exact)
    val longTrunc = rowsLong.map { case (id, ns, ntz) => (id, ns / 1000L * 1000L, ntz) }
    assert(rowsTs == longTrunc)
    assert(rowsNtz == longTrunc)
    // ts_ntz identical across ALL generations (µs-truncated on every path)
    assert(outLong.select("ts_ntz").collect().toSeq == outTs.select("ts_ntz").collect().toSeq)
  }

  /** Spark jobs started while `body` runs. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  private val nanos = Seq(
    (1L, 1704067200123456789L, 10L, "click", 1.5, "{}"),
    (2L, 1704070800987654321L, 11L, "view", 2.5, "{}"))

  test("a table rewritten in place with the other ts type is read with its new type") {
    val dir = Files.createTempDirectory("tables_rewrite").toString
    val path = s"$dir/events.parquet"
    val base = nanos.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def tsNs = Tables.events(spark, dir).orderBy("event_id").select("ts_ns")
      .collect().toSeq.map(_.getLong(0))

    base.coalesce(1).write.mode("overwrite").parquet(path) // int64 nanos
    assert(Tables.read(spark, path).schema("ts").dataType === LongType)
    assert(tsNs === nanos.map(_._2))

    base.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .coalesce(1).write.mode("overwrite").parquet(path) // µs TIMESTAMP
    assert(Tables.read(spark, path).schema("ts").dataType === TimestampType)
    assert(tsNs === nanos.map(_._2 / 1000L * 1000L))
  }

  test("a second read of an unchanged table launches no Spark job") {
    val dir = Files.createTempDirectory("tables_jobs").toString
    Tables.lineitem(spark, TestSpark.Sf).limit(50).write.parquet(s"$dir/lineitem.parquet")
    val (first, inferJobs) = jobs(Tables.lineitem(spark, dir).schema)
    assert(inferJobs >= 1, "the first read infers the schema")
    val (second, again) = jobs(Tables.lineitem(spark, dir))
    assert(again === 0)
    assert(second.schema === first)
    assert(second.count() === 50L)
  }

  test("the cached schema follows the session's nanosAsLong") {
    val path = Files.createTempDirectory("tables_nanos").resolve("t.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(path)).withType(schema)
      .withConf(new Configuration()).build()
    try nanos.foreach { case (id, ts, _, _, _, _) =>
      w.write(new SimpleGroupFactory(schema).newGroup().append("id", id).append("ts", ts))
    } finally w.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    def tsType(nanosAsLong: Boolean) = {
      spark.conf.set(key, nanosAsLong.toString)
      try scala.util.Try(Tables.read(spark, path).schema("ts").dataType)
      finally spark.conf.set(key, before)
    }
    val asLong = tsType(true)
    assert(asLong === scala.util.Success(LongType))
    // without nanosAsLong Spark has no type for TIMESTAMP(NANOS): the read
    // must infer again and fail, not serve the LongType cached above
    val strict = tsType(false)
    assert(strict.isFailure && strict.failed.get.getMessage.contains("PARQUET_TYPE_ILLEGAL"), strict)
    assert(tsType(true) === asLong)
  }
}
