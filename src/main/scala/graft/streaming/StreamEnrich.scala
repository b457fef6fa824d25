package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Stream-static enrichment join — the standard Structured Streaming shape
  * where an event/CDC stream picks up attributes from a slowly-changing
  * dimension (reader's analogue: the per-table metadata/config every
  * streamed row is stamped with). Each micro-batch inner-joins the static
  * frame; with an explicit broadcast the dim ships once per executor and
  * the stream side never shuffles — at 100 TB/day of events and a MB-scale
  * dimension this is the only plan that holds up. Append mode: a
  * stream-static inner join is stateless (no watermark, no state store),
  * so the landed result equals the batch join — which is exactly the
  * contract the oracle replays.
  */
object StreamEnrich {

  /** AvailableNow ingest of `eventsPath` with `prep` applied to the raw
    * stream, inner-joined to broadcast `dim` on `joinCols`, landed as
    * parquet under `workDir`. Fresh-run idempotent like the other ingests. */
  def enrichAvailableNow(
      spark: SparkSession,
      eventsPath: String,
      workDir: String,
      prep: DataFrame => DataFrame,
      dim: DataFrame,
      joinCols: Seq[String]): DataFrame = {
    val landing = s"$workDir/landing"
    val ckpt = s"$workDir/ckpt"
    EventsIngest.deleteRecursive(landing)
    EventsIngest.deleteRecursive(ckpt)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.sources.Tables.read(spark, eventsPath).schema
    val stream = prep(EventsIngest.fileStream(spark, eventsPath, schema))
      .join(broadcast(dim), joinCols)
    EventsIngest.runToParquet(stream, landing, ckpt)
  }
}
