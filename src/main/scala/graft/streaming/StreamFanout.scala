package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}

/** Multi-sink fanout with exactly-once batch semantics — reader's
  * one-stream-to-many-destinations shape (a CDC feed lands in both a raw
  * archive and a serving aggregate) done the Structured-Streaming way:
  * `foreachBatch` gives each micro-batch a stable batchId, and BOTH sinks
  * write `.../batch=<id>` directories in overwrite mode, so a retried or
  * restarted batch lands idempotently in each sink — the batchId IS the
  * exactly-once fence, no sink transaction needed. The batch DataFrame is
  * persisted across the two writes so the source micro-batch is read
  * once, not once per sink.
  *
  * The consistency CONTRACT (both sinks describe the same stream) is what
  * the gating query asserts: per-type counts and exact decimal sums
  * re-aggregated from the raw sink must equal the roll-up of the
  * aggregate sink's per-batch rows.
  *
  * Both sinks are read back with schemas derived from the stream's before
  * it starts, each with the `batch` partition column, so neither read runs
  * a schema-inference job. */
object StreamFanout {

  /** Run the fanout to completion; returns (raw sink rows, aggregate sink
    * rows). Fresh-run idempotent. */
  def run(
      spark: SparkSession,
      eventsPath: String,
      workDir: String): (DataFrame, DataFrame) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.sources.Tables.read(spark, eventsPath).schema
    val rawDir = s"$workDir/raw"
    val aggDir = s"$workDir/agg"
    val ckpt = s"$workDir/ckpt"
    EventsIngest.deleteRecursive(rawDir)
    EventsIngest.deleteRecursive(aggDir)
    EventsIngest.deleteRecursive(ckpt)

    val stream = EventsIngest.fileStream(spark, eventsPath, schema)
    // the aggregate's schema, planned over an empty frame: nothing runs
    val aggSchema =
      rollup(spark.createDataFrame(java.util.List.of[Row](), stream.schema)).schema
    def withBatch(s: StructType) = s.add("batch", LongType)

    EventsIngest.withStreamingScope(spark) {
    val q = stream
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val b = df.persist()
        b.write.mode("overwrite").parquet(s"$rawDir/batch=$batchId")
        rollup(b).write.mode("overwrite").parquet(s"$aggDir/batch=$batchId")
        b.unpersist()
        ()
      }
      .start()
    q.awaitTermination()
    }
    (spark.read.schema(withBatch(stream.schema)).option("basePath", rawDir)
      .parquet(s"$rawDir/batch=*"),
      spark.read.schema(withBatch(aggSchema)).option("basePath", aggDir)
        .parquet(s"$aggDir/batch=*"))
  }

  /** The serving aggregate of one micro-batch: count and exact decimal sum
    * per event type. */
  private def rollup(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(12,2)")).as("sum_dec"))
}
