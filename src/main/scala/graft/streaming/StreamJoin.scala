package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream interval join: correlate two live CDC streams on a key
  * within an event-time window — the streaming twin of [[graft.operators
  * .AsOfJoin]]'s batch point-in-time lookup, and the remaining Structured-
  * Streaming primitive the engine exercises (stateful dedup, watermarked
  * aggregation, flatMapGroupsWithState sessions, and foreachBatch schema
  * replay are covered by the other streaming queries).
  *
  * Scale contract: BOTH sides carry a watermark and the join condition
  * bounds event-time distance, so each side's state store retains only the
  * watermark horizon (Spark derives the eviction predicate from the
  * interval bounds) — without the bounds, stream-stream state grows
  * unboundedly. The join itself is a keyed exchange of both streams, the
  * same shuffle the batch twin pays.
  *
  * Determinism contract (what lets a SQL oracle replay it): an INNER join
  * emits every matched pair exactly once regardless of micro-batch
  * boundaries — late-batch rows join against retained state — so under
  * `AvailableNow` the emitted set equals the batch interval join verbatim.
  * An inner run ends on its last DATA batch: the trailing no-data batch
  * would only advance the watermark and evict state, emitting nothing, so
  * [[EventsIngest.runToParquet]] skips it. The eviction of the last batch's
  * expired state happens at the next run's first batch from the same
  * checkpoint, which starts from the watermark this run committed; rows
  * behind that watermark are late there, as they would have been after
  * the skipped batch. The outer variants keep the batch: they emit their
  * null-extended rows at eviction.
  */
object StreamJoin {

  /** Join clicks to the same user's purchases at most `window` before the
    * click, both sides streamed. Fresh-run idempotent. */
  def clicksWithRecentPurchases(
      spark: SparkSession,
      eventsPath: String,
      workDir: String,
      window: String = "1 hour"): DataFrame =
    run(spark, eventsPath, workDir, window, "inner")

  /** LEFT OUTER variant: every click lands, matched or not. The outer
    * (null-extended) row for a click emits only when the watermark proves
    * no further purchase can match — i.e. when the click's event time
    * falls behind the final watermark (max event time − delay, advanced by
    * the trailing no-data micro-batch under AvailableNow). Clicks younger
    * than that horizon emit their MATCHES but never a null row — they
    * might still match a future purchase, and a restart from the
    * checkpoint would emit them later. That eviction rule is
    * deterministic, so the batch oracle replays it: full inner part + null
    * rows only for unmatched clicks older than max(ts) − delay (the same
    * emission arithmetic stream_watermark_agg's oracle encodes). */
  def clicksWithRecentPurchasesOuter(
      spark: SparkSession,
      eventsPath: String,
      workDir: String,
      window: String = "1 hour"): DataFrame =
    run(spark, eventsPath, workDir, window, "left_outer")

  /** FULL OUTER variant — the completeness-semantics member: every click
    * AND every purchase lands, matched or not. Null-extension happens per
    * SIDE at that side's state eviction, and the two horizons are
    * asymmetric because the interval condition is: a click matches only
    * purchases AT OR BEFORE it (p_ts ≤ c_ts), so a click stops matching
    * anything new once the watermark passes it — clicks null-extend at
    * c_ts < wm. A purchase can match clicks up to `window` AFTER it
    * (c_ts ≤ p_ts + window), so its state must outlive the watermark by
    * the window — purchases null-extend at p_ts < wm − window. Both rules
    * are deterministic functions of the final watermark (min of the two
    * sides' max event time − delay, advanced by the trailing no-data
    * micro-batch under AvailableNow), so the batch oracle replays them. */
  def clicksWithRecentPurchasesFull(
      spark: SparkSession,
      eventsPath: String,
      workDir: String,
      window: String = "1 hour"): DataFrame =
    run(spark, eventsPath, workDir, window, "full_outer")

  private def run(
      spark: SparkSession,
      eventsPath: String,
      workDir: String,
      window: String,
      joinType: String): DataFrame = {
    val landing = s"$workDir/landing"
    val ckpt = s"$workDir/ckpt"
    EventsIngest.deleteRecursive(landing); EventsIngest.deleteRecursive(ckpt)
    EventsIngest.runToParquet(joined(spark, eventsPath, window, joinType), landing, ckpt)
  }

  /** The streaming interval join of `eventsPath`'s clicks to the same
    * user's purchases at most `window` before them. */
  private[streaming] def joined(
      spark: SparkSession,
      eventsPath: String,
      window: String,
      joinType: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.sources.Tables.read(spark, eventsPath).schema

    def side(evType: String, prefix: String) =
      EventsIngest.fileStream(spark, eventsPath, schema)
        .where(col("event_type") === evType)
      .select(col("user_id").as(s"${prefix}_user"),
        graft.sources.Tables.tsTimestamp(schema("ts").dataType).as(s"${prefix}_ts"),
        col("event_id").as(s"${prefix}_id"))
      .withWatermark(s"${prefix}_ts", window)

    side("click", "c").join(side("purchase", "p"),
      expr(s"c_user = p_user AND p_ts BETWEEN c_ts - INTERVAL $window AND c_ts"),
      joinType)
  }
}
