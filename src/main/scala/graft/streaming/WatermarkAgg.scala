package graft.streaming


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Watermarked tumbling-window aggregation over the event stream.
  *
  * Reader's streaming loops batch change events by wall-clock flush
  * intervals (sources/mysql/streaming/iterator.go:265 drains the binlog,
  * writers flush on size/time); the Spark-native continuous-aggregation
  * analogue is `withWatermark` + `window()` in append mode: a window is
  * emitted exactly once, when the event-time watermark (max event time seen
  * minus the lateness allowance) passes its end — late rows inside the
  * allowance still count, later ones are dropped.
  *
  * Determinism contract (what lets the DuckDB oracle hash-match a streaming
  * query): with `Trigger.AvailableNow` the final watermark is
  * `max(ts) - delay`, so the emitted set is exactly the windows with
  * `window.end <= watermark` — pure arithmetic over the input, no wall
  * clock involved. The last (still-open) window per key is NOT emitted;
  * that is watermark semantics, not data loss — a resumed run emits it
  * once later data closes it.
  *
  * Scale: the aggregation state is one row per (key, open window) — bounded
  * by watermark eviction, independent of input volume. The shuffle is the
  * same keyed exchange the batch twin pays; at 100 TB/day the state store
  * holds only the trailing `delay` worth of windows.
  */
object WatermarkAgg {

  /** Daily windowed count+sum per event_type, emitted append-mode to a
    * parquet landing zone. Fresh-run idempotent: wipes landing+checkpoint.
    * `eventsPath` points at the raw events parquet (any ts physical type —
    * see [[graft.sources.Tables.tsTimestamp]]).
    */
  def dailyCountsAvailableNow(
      spark: SparkSession,
      eventsPath: String,
      workDir: String,
      delay: String = "1 hour"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.sources.Tables.read(spark, eventsPath).schema
    val landing = s"$workDir/landing"
    val ckpt = s"$workDir/ckpt"
    EventsIngest.deleteRecursive(landing); EventsIngest.deleteRecursive(ckpt)

    val agg = EventsIngest.fileStream(spark, eventsPath, schema)
      .select(graft.sources.Tables.tsTimestamp(schema("ts").dataType).as("ts"),
        col("event_type"), col("value"))
      .withWatermark("ts", delay)
      .groupBy(col("event_type"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("event_type"), col("window.start").cast("date").as("day"),
        col("n"), col("sum_value"))

    EventsIngest.runToParquet(agg, landing, ckpt, Some(OutputMode.Append()))
  }

}
