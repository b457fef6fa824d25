package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** TTL-expiring keyed dedup state — the Spark answer to reader's ttlmap
  * offset store (lib/storage/ttlmap/ttlmap.go:1-187): entries expire a
  * fixed interval after insertion (cleanup ticker, ttlmap.go:17-19), so a
  * key re-arriving while its entry is live is a duplicate and a key
  * re-arriving after expiry is accepted anew.
  *
  * Spark-first mapping: `withWatermark(ts, ttl).dropDuplicatesWithinWatermark
  * (pk)` — the state store keeps one entry per key with expiry ts+ttl, and
  * the event-time watermark plays the cleanup ticker's role, evicting
  * expired entries as it advances. At scale the state size is bounded by
  * keys-per-TTL-window (not corpus size), and eviction is incremental per
  * micro-batch — the same bounded-memory property the reference gets from
  * its ticker loop.
  *
  * Determinism harness: watermark advancement (and therefore expiry) is a
  * function of micro-batch boundaries, so the lifecycle is replayed as
  * SEQUENTIAL AvailableNow runs against ONE checkpoint — each run stages
  * one more file and drains it, giving a strict arrival order and a
  * persisted watermark between runs, independent of file-listing order
  * within a run.
  */
object TtlDedup {

  /** Stage each batch in order and drain the dedup stream to `landing`
    * after each, sharing the checkpoint (and so the watermark + dedup
    * state) across runs. Returns the accumulated accepted rows. */
  def runSequential(
      spark: SparkSession,
      batches: Seq[DataFrame],
      workDir: String,
      pkCols: Seq[String],
      tsCol: String,
      ttl: String): DataFrame = {
    require(batches.nonEmpty, "need at least one batch")
    val staged = s"$workDir/staged"
    val landing = s"$workDir/landing"
    val ckpt = s"$workDir/ckpt"
    EventsIngest.deleteRecursive(staged)
    EventsIngest.deleteRecursive(landing)
    EventsIngest.deleteRecursive(ckpt)
    val schema = batches.head.schema
    batches.map { df =>
      df.repartition(1).write.mode("append").parquet(staged)
      val stream = spark.readStream.schema(schema).parquet(staged)
        .withWatermark(tsCol, ttl)
        .dropDuplicatesWithinWatermark(pkCols)
      EventsIngest.runToParquet(stream, landing, ckpt)
    }.last // every run lands into the same sink, so the last read sees them all
  }
}
