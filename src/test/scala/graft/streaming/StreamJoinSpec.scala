package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

/** The stream-stream interval join against its batch twin: the inner join
  * lands the batch interval join in one micro-batch (no eviction-only
  * batch), a run resumed from the checkpoint completes it exactly once,
  * also when the checkpoint pinned another state partition count than the
  * default, the outer variant still runs its eviction batch, and an empty
  * stream lands as an empty frame. */
class StreamJoinSpec extends AnyFunSuite {
  import TestSpark._

  /** 400 clicks and purchases of 10 users over 8 hours, `ts` a µs
    * TIMESTAMP_NTZ as in the corpus: hundreds of pairs within the hour. */
  private lazy val events = {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val path = Files.createTempDirectory("sjoin_events").resolve("events.parquet").toString
    (0 until 400).map { i =>
      (i.toLong, 1704067200000000L + rnd.nextInt(8 * 3600) * 1000000L, rnd.nextInt(10).toLong,
        if (rnd.nextBoolean()) "click" else "purchase")
    }.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", expr("cast(timestamp_micros(ts) as timestamp_ntz)"))
      .coalesce(1).write.parquet(path)
    path
  }

  /** Ids of the micro-batches that the queries run by `body` completed. */
  private def batches[T](body: => T): (T, Seq[Long]) = {
    val ids = new ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ids.add(e.progress.batchId)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      ListenerBus.drain(spark.sparkContext)
      (out, ids.asScala.toSeq.sorted)
    } finally spark.streams.removeListener(listener)
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select("c_user", "c_ts", "c_id", "p_user", "p_ts", "p_id").collect().toSeq

  /** (clicks, purchases) of `raw` events as the stream join projects them. */
  private def sides(raw: DataFrame) = {
    val ts = Tables.tsTimestamp(raw.schema("ts").dataType)
    def side(evType: String, prefix: String) = raw.where(col("event_type") === evType)
      .select(col("user_id").as(s"${prefix}_user"), ts.as(s"${prefix}_ts"),
        col("event_id").as(s"${prefix}_id"))
    (side("click", "c"), side("purchase", "p"))
  }

  /** The batch interval join: purchases at most an hour before the click. */
  private def oracle(raw: DataFrame): DataFrame = {
    val (c, p) = sides(raw)
    c.join(p, expr("c_user = p_user AND p_ts BETWEEN c_ts - INTERVAL 1 hour AND c_ts"))
  }

  private def work(name: String) = Files.createTempDirectory(s"sjoin_$name").toString

  test("the inner join lands the batch interval join in one micro-batch") {
    val (landed, ids) = batches(StreamJoin.clicksWithRecentPurchases(spark, events, work("inner")))
    val got = rows(landed)
    val want = rows(oracle(Tables.read(spark, events)))
    assert(want.size > 100, want.size)
    assert(got.size === want.size)
    assert(got.toSet === want.toSet)
    assert(ids === Seq(0L), "an inner join needs no eviction-only batch")
  }

  test("a run resumed from the checkpoint with the later files completes the join exactly once") {
    val raw = Tables.read(spark, events)
    val want = rows(oracle(raw))
    // split at the click of a pair whose purchase is strictly earlier, so
    // that pair only joins against state the first run left behind
    val crossing = want.filter(r => r.getTimestamp(4).before(r.getTimestamp(1)))
      .sortBy(_.getTimestamp(1).getTime)
    assert(crossing.nonEmpty)
    val cut = crossing(crossing.size / 2).getTimestamp(1)
    val ts = Tables.tsTimestamp(raw.schema("ts").dataType)

    val dir = work("resume")
    val staged = s"$dir/events"
    def run() = EventsIngest.runToParquet(
      StreamJoin.joined(spark, staged, "1 hour", "inner"), s"$dir/landing", s"$dir/ckpt")
    raw.where(ts < lit(cut)).coalesce(1).write.parquet(staged)
    val (first, firstIds) = batches(rows(run()))
    raw.where(ts >= lit(cut)).coalesce(1).write.mode("append").parquet(staged)
    val (got, secondIds) = batches(rows(run()))

    assert(firstIds === Seq(0L) && secondIds === Seq(1L))
    assert(first.nonEmpty && first.size < got.size)
    assert(got.size === want.size, "duplicated or lost pairs")
    assert(got.toSet === want.toSet)
  }

  test("a checkpoint written under 8 state partitions resumes exactly once under the default") {
    val raw = Tables.read(spark, events)
    val want = rows(oracle(raw))
    val ts = Tables.tsTimestamp(raw.schema("ts").dataType)
    // a pair whose purchase precedes the cut joins against the pinned state
    val crossing = want.filter(r => r.getTimestamp(4).before(r.getTimestamp(1)))
      .sortBy(_.getTimestamp(1).getTime)
    val cut = crossing(crossing.size / 2).getTimestamp(1)
    // on this session the default is below 8, so the resume runs under a
    // count other than the one the checkpoint pinned
    assert(spark.sparkContext.defaultParallelism < 8)

    val dir = work("repartition")
    val (staged, landing, ckpt) = (s"$dir/events", s"$dir/landing", s"$dir/ckpt")
    def join() = StreamJoin.joined(spark, staged, "1 hour", "inner")
    def stateParts() = {
      val s = Files.list(Paths.get(ckpt, "state", "0"))
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.forall(_.isDigit)).toSet
      finally s.close()
    }
    val eight = (0 until 8).map(_.toString).toSet
    raw.where(ts < lit(cut)).coalesce(1).write.parquet(staged)
    // the first run starts the query as the former default of 8 did
    withShufflePartitions(8) {
      join().writeStream
        .format("parquet")
        .option("path", landing)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(stateParts() === eight)
    val first = rows(spark.read.schema(join().schema).parquet(landing))

    raw.where(ts >= lit(cut)).coalesce(1).write.mode("append").parquet(staged)
    val (got, resumedIds) = batches(rows(EventsIngest.runToParquet(join(), landing, ckpt)))

    assert(resumedIds.nonEmpty && first.nonEmpty && first.size < got.size)
    assert(got.size === want.size, "duplicated or lost pairs")
    assert(got.toSet === want.toSet)
    assert(stateParts() === eight, "the checkpoint keeps its count")
  }

  test("the left-outer join still runs its eviction batch and emits null-extended clicks") {
    val (landed, ids) =
      batches(StreamJoin.clicksWithRecentPurchasesOuter(spark, events, work("outer")))
    val got = rows(landed)
    val raw = Tables.read(spark, events)
    val (c, p) = sides(raw)
    // an unmatched click null-extends once the final watermark (the
    // earlier side's max event time less the hour's delay) has passed it
    val horizon = Seq(c.agg(max("c_ts")).head().getTimestamp(0),
      p.agg(max("p_ts")).head().getTimestamp(0)).minBy(_.getTime).getTime - 3600 * 1000L
    val matched = rows(oracle(raw))
    val unmatched = c.join(p, expr("c_user = p_user AND p_ts BETWEEN c_ts - INTERVAL 1 hour AND c_ts"),
        "left_anti")
      .where(col("c_ts") < lit(new java.sql.Timestamp(horizon)))
      .collect().toSeq.map(r => Row(r.get(0), r.get(1), r.get(2), null, null, null))
    assert(unmatched.nonEmpty)
    assert(got.size === matched.size + unmatched.size)
    assert(got.toSet === (matched ++ unmatched).toSet)
    assert(ids === Seq(0L, 1L), "the eviction batch emits the null-extended rows")
  }

  test("an empty stream lands and reads back as an empty frame with the stream's schema") {
    val dir = work("empty")
    val input = Files.createDirectories(Paths.get(dir, "events")).toString
    val schema = Tables.read(spark, events).schema
    def side(evType: String, prefix: String) = spark.readStream.schema(schema).parquet(input)
      .where(col("event_type") === evType)
      .select(col("user_id").as(s"${prefix}_user"),
        Tables.tsTimestamp(schema("ts").dataType).as(s"${prefix}_ts"),
        col("event_id").as(s"${prefix}_id"))
      .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("click", "c").join(side("purchase", "p"),
      expr("c_user = p_user AND p_ts BETWEEN c_ts - INTERVAL 1 hour AND c_ts"))
    val landed = EventsIngest.runToParquet(joined, s"$dir/landing", s"$dir/ckpt")
    def fields(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(fields(landed) === fields(joined))
    assert(landed.count() === 0L)
  }
}
