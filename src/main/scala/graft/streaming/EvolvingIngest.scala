package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.cdc.SchemaEvolution

/** Streaming ingest across a schema migration.
  *
  * Reader replays ALTER TABLE statements against its in-memory schema cache
  * so the binlog stream keeps converting rows correctly after a migration
  * (lib/antlr/alter_table.go:12-235, parse.go:83); Debezium proper keeps the
  * same DDL in a schema-history topic keyed by position. The Spark-native
  * re-expression: the wire rows are (schema_epoch, json payload) — epoch is
  * the count of DDL statements applied before the row was produced, the
  * stream-side twin of the binlog position — and a DDL log (the schema
  * history) is replayed on the driver into one StructType per epoch. Each
  * micro-batch parses every payload with the schema THAT ROW was written
  * under, then [[SchemaEvolution.conformTo]] projects all epochs onto the
  * final evolved schema, so pre- and post-DDL rows land in one table.
  *
  * Scale: the DDL log is O(migrations) driver state (bytes); per batch the
  * work is one `from_json` projection per epoch present — map-only, no
  * shuffle, no state store. The epoch schemas are resolved ONCE up front,
  * not per batch.
  */
object EvolvingIngest {

  /** Ingest `staged` (columns: `epoch` int, `payload` json string) into a
    * parquet landing zone, parsing each epoch with its historical schema
    * and conforming everything to the post-DDL shape. `v1` is the initial
    * schema; `ddlLog` the ordered migration statements (unparsable ones are
    * dead-lettered by [[SchemaEvolution.parse]] returning None — same as
    * reader skipping non-column DDL). Epoch k rows are parsed with the
    * schema after the first k statements. Fresh-run idempotent.
    */
  def ingestAcrossMigration(
      spark: SparkSession,
      stagedDir: String,
      workDir: String,
      v1: StructType,
      ddlLog: Seq[String]): DataFrame = {
    val events = ddlLog.flatMap(SchemaEvolution.parse)
    // schema history: epoch k -> schema after k applied events
    val epochSchemas: Map[Int, StructType] =
      events.indices.inclusive.map(k => k -> SchemaEvolution.evolveAll(v1, events.take(k))).toMap
    val target = epochSchemas(events.length)

    val landing = s"$workDir/landing"
    val dead = s"$workDir/dead"
    val ckpt = s"$workDir/ckpt"
    EventsIngest.deleteRecursive(landing)
    EventsIngest.deleteRecursive(dead)
    EventsIngest.deleteRecursive(ckpt)

    val stream = spark.readStream
      .schema(new StructType().add("epoch", "int").add("payload", "string"))
      .parquet(stagedDir)

    val knownEpochs = epochSchemas.keySet.toSeq
    EventsIngest.withStreamingScope(spark) {
    val q = stream.writeStream
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        // the micro-batch is scanned once per epoch slice plus the
        // dead-letter pass — persist it for the duration of the batch
        val batch = rawBatch.persist()
        try {
          // epoch k rows are parsed with their historical schema, then the
          // REMAINING migration events are replayed over them (rename moves
          // the data, add fills typed NULL/default) — conformTo alone maps by
          // name and would NULL a renamed column. Final conformTo pins the
          // target column order/types.
          val conformed = epochSchemas.toSeq.sortBy(_._1).map { case (k, sch) =>
            val parsed = batch.where(col("epoch") === k)
              .select(from_json(col("payload"), sch).as("r"))
              .select(col("r.*"))
            SchemaEvolution.conformTo(
              SchemaEvolution.replay(parsed, events.drop(k)), target)
          }.reduce(_.unionAll(_))
          // both writes are partitioned by batch id with DYNAMIC overwrite:
          // a foreachBatch retry (crash between write and checkpoint commit)
          // rewrites ONLY its own batch partition instead of appending the
          // rows a second time
          conformed.withColumn("_batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id").parquet(landing)
          // rows whose epoch is outside the known schema history (producer
          // ahead of this consumer's DDL log — the migration race this
          // operator exists for) dead-letter verbatim instead of vanishing
          val unknown = batch.where(!col("epoch").isin(knownEpochs: _*) ||
            col("epoch").isNull)
          if (!unknown.isEmpty) {
            unknown.withColumn("_batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("_batch_id").parquet(dead)
          }
        } finally batch.unpersist(blocking = false)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    }

    spark.read.parquet(landing).drop("_batch_id")
  }

  /** Dead-lettered rows (unknown/NULL epoch) from the last run, verbatim
    * wire shape plus the batch id that carried them. Empty DataFrame when
    * nothing dead-lettered. */
  def deadLetters(spark: SparkSession, workDir: String): DataFrame = {
    val dead = s"$workDir/dead"
    if (Files.exists(Paths.get(dead))) spark.read.parquet(dead)
    else spark.emptyDataFrame
  }
}
