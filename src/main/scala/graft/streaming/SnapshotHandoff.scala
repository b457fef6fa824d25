package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.cdc.Envelope

/** Snapshot → CDC-stream handoff: reader's core end-to-end contract.
  *
  * Reader runs in two phases: a keyset snapshot scan of the source table,
  * then binlog/change-stream tailing from the offset captured at snapshot
  * time (sources/mysql/streaming.go, writers/transfer/writer.go — the
  * destination is seeded by the snapshot and every subsequent change batch
  * is merged on primary key). The correctness contract is that the
  * materialized table equals a continuous replay — nothing between the
  * snapshot watermark and the stream start is lost or double-applied.
  *
  * Spark-native shape:
  *  - the snapshot seeds a BUCKET-PARTITIONED parquet state table
  *    (bucket = pmod(key, nBuckets));
  *  - each micro-batch (foreachBatch) compacts to latest-per-key, reads
  *    ONLY the state buckets its keys touch (partition pruning — the merge
  *    never rescans the full corpus), merges latest-wins, and
  *    dynamic-overwrites exactly those buckets;
  *  - deletes are retained as TOMBSTONES in the state, which makes the
  *    merge commutative, associative, and idempotent — max-by-(ts, id) per
  *    key is insensitive to batch order and to foreachBatch retries (the
  *    same batch re-merges to the same bucket contents). Tombstones drop
  *    only at final read.
  *
  * In production the state table would be a Delta/Iceberg MERGE target;
  * plain parquet + dynamic partition overwrite demonstrates the same
  * bucket-pruned merge with nothing but the core engine. The
  * `localCheckpoint` before each overwrite is the read-own-output barrier
  * (Spark refuses to overwrite a path its plan still reads).
  */
object SnapshotHandoff {

  /** Seed `stateDir` from `snapshot`, drain `stagedChanges` through the
    * bucket-merge loop, return the final state INCLUDING tombstones (callers
    * filter the delete op). Both inputs carry `keyCol` + payload + the
    * `orderCols` that define "latest" (strictly monotone per key). */
  def materialize(
      spark: SparkSession,
      snapshot: DataFrame,
      stagedChanges: String,
      changeSchema: StructType,
      keyCol: String,
      orderCols: Seq[String],
      stateDir: String,
      ckptDir: String,
      nBuckets: Int = 16): DataFrame = {
    // a stale checkpoint would mark the fresh staged files' predecessors
    // processed; the state table is re-seeded below, so the stream must
    // replay from scratch
    EventsIngest.deleteRecursive(ckptDir)
    def bucketed(df: DataFrame): DataFrame =
      df.withColumn("bucket", pmod(col(keyCol), lit(nBuckets.toLong)))

    bucketed(snapshot)
      .write.mode("overwrite").partitionBy("bucket").parquet(stateDir)

    val stream = spark.readStream.schema(changeSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedChanges)
    EventsIngest.withStreamingScope(spark) {
    val q = stream.writeStream
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = bucketed(batch)
        // bounded driver set: at most nBuckets values
        val affected = b.select("bucket").distinct().collect().map(_.getLong(0))
        if (affected.nonEmpty) {
          val cur = spark.read.parquet(stateDir)
            .where(col("bucket").isin(affected.toIndexedSeq: _*))
            .select(b.columns.toIndexedSeq.map(col): _*)
          val merged = Envelope.latestState(
            cur.unionByName(b), Seq(keyCol), orderCols.map(col))
            // barrier: break lineage to stateDir before overwriting it
            .localCheckpoint(true)
          merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket").parquet(stateDir)
        }
        ()
      }
      .start()
    q.awaitTermination()
    }
    spark.read.parquet(stateDir)
  }
}
