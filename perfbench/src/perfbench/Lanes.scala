package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The benchmark's workloads: fixed, ordered lists of `SparkEntry.queries`
  * lanes, each run as `SparkEntry` defines it. Lanes that write files
  * (sink_batch, stream_join) put them under `SparkEntry`'s work root, which
  * the benchmark points into its work directory (`Main.graftRoot`). */
object Lanes {

  val workloads: Map[String, Seq[String]] = Map(
    "ingest" -> Seq("snapshot_scan", "convert_decimal", "convert_temporal",
      "cdc_envelope", "sink_batch"),
    "cdc_stream" -> Seq("stream_join"),
    "analytics" -> Seq("pipeline_curate", "dedup_minhash_lsh", "ann_topk", "graph_bfs"))

  /** Input tables each lane reads (for bytes-read accounting). */
  val tablesRead: Map[String, Seq[String]] = Map(
    "snapshot_scan" -> Seq("lineitem"), "convert_decimal" -> Seq("orders"),
    "convert_temporal" -> Seq("events"), "cdc_envelope" -> Seq("events"),
    "sink_batch" -> Seq("lineitem"),
    "stream_join" -> Seq("events"),
    "pipeline_curate" -> Seq("documents"), "dedup_minhash_lsh" -> Seq("documents"),
    "ann_topk" -> Seq("embeddings"),
    "graph_bfs" -> Seq("customer"))

  /** The lane's result frame on the tables under `input`. Lanes that write
    * (sink_batch, stream_join) do so here, before the frame is returned. */
  def lane(name: String, spark: SparkSession, input: String): DataFrame =
    SparkEntry.queries(name)(spark, input)
}
