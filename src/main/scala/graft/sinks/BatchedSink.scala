package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Size-capped batched sink — the Spark re-expression of reader's
  * publish-size batching (reference: lib/kafkalib/writer.go:48-193
  * BatchWriter + cfg.GetPublishSize(); writers/transfer/writer.go).
  *
  * Reader chops the row stream into `publishSize` batches and publishes each
  * with retries; the unit of retry/idempotency is the batch. Here the batch
  * id is derived from the PK keyspace (`pk div batchSize` — the same keyset
  * arithmetic the snapshot scanner pages by), so batch membership is
  * deterministic, partition-parallel to compute (no global row numbering,
  * which would serialize at scale), and the write is idempotent: re-running
  * overwrites the same batch directories with identical content.
  */
object BatchedSink {

  /** Assign deterministic keyset batch ids (integer keyspace division). */
  def withBatchId(df: DataFrame, pkCol: String, batchKeySpan: Long): DataFrame =
    df.withColumn("batch_id", expr(s"cast($pkCol as bigint) div $batchKeySpan"))

  /** Write `df` as one parquet directory per batch (dynamic partition
    * overwrite = per-batch idempotent republish), then return the manifest
    * the writer would ack: per-batch row count and key bounds.
    *
    * The manifest is computed from the in-hand `batched` plan, NOT by
    * re-reading the written output: it needs only (batch_id, pk), so
    * Catalyst prunes the recompute down to a narrow scan of the key column —
    * versus re-reading every written byte, which doubles the job's I/O at
    * 100 TB.
    *
    * Determinism precondition: `df` must be deterministic and the source
    * immutable between the write and the manifest recompute (true for the
    * snapshot scans this sink serves — a snapshot is by definition a frozen
    * keyspace). For a mutating or nondeterministic source, ack from
    * `spark.read.parquet(outDir).select("batch_id", pkCol)` instead — still
    * a narrow key-column scan of the written files, not a full re-read. */
  def writeBatched(
      df: DataFrame,
      pkCol: String,
      batchKeySpan: Long,
      outDir: String): DataFrame = {
    val batched = withBatchId(df, pkCol, batchKeySpan)
    // Cluster rows by batch before the partitioned write: every batch then
    // lands as ONE file written by one task, instead of every task opening
    // a file in every batch directory (tasks x batches small files — the
    // classic dynamic-partition-write storm). The exchange takes the
    // session's spark.sql.shuffle.partitions, and AQE coalesces small hash
    // partitions into fewer writer tasks; it merges whole partitions and
    // never splits one, so a batch still lands as one file. Not
    // `rebalance`: AQE may split a skewed rebalance partition across tasks,
    // which would land one batch as several files.
    // partitionOverwriteMode=dynamic scopes the overwrite to the batch
    // directories actually present in `df`, so republishing a subset of
    // batches cannot wipe the others.
    batched
      .repartition(col("batch_id"))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
    manifest(batched, pkCol)
  }

  /** Manifest over batched data: the per-batch ack record. */
  def manifest(batched: DataFrame, pkCol: String): DataFrame =
    batched
      .groupBy(col("batch_id").cast("long").as("batch_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(pkCol)).cast("long").as("min_pk"),
        max(col(pkCol)).cast("long").as("max_pk"))
}
