package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** TextRank keyword scoring (Mihalcea & Tarau 2004, "TextRank: Bringing
  * Order into Text"): weighted PageRank iterated over the word-adjacency
  * graph until (here) a fixed round count — the corpus-level variant that
  * ranks vocabulary terms by graph centrality rather than raw frequency.
  *
  * This is the second iterative fixed-point operator in the library (the
  * first is star connected components, Dedup.scala): per round, rank mass
  * flows along out-edges proportionally to edge weight, damped at the
  * standard 0.85. All arithmetic is scaled-INTEGER — ranks live at
  * `scale` (1e9) and every division is integral (`div` / `//`), so the
  * whole fixed-point replays bit-for-bit in a SQL oracle, tie-breaks
  * included, where a float PageRank could not (cross-engine float sums
  * are order-sensitive; BIGINT sums are not).
  *
  * Shape at 100 TB: the corpus collapses to the weighted edge list FIRST
  * (one keyed agg over adjacent word pairs — the same
  * reduce-to-aggregate-then-iterate discipline as BPE training), so
  * iteration cost depends on VOCABULARY size, not corpus size. Each round
  * is one keyed join (ranks onto edges by src) + one keyed agg (contrib
  * sum by dst) + one left join back onto the node set — all
  * equi-partitioned on word; `localCheckpoint` per round keeps the plan
  * tree flat (the CC lesson: persist alone grows the analyzed tree
  * exponentially). Overflow envelope: r·w stays under 2^63 while
  * N·scale·w_max < 9e18 — at web-corpus edge weights move `scale` down or
  * the product into DECIMAL(38,0); ANSI mode fails loud, not wrong.
  *
  * Reference scope: reader has no graph tier — this extends the
  * training-data pipeline set (keyword/salience scoring for curation).
  */
object TextRank {

  /** Iterate weighted PageRank over a directed weighted edge list
    * (src, dst, w). Undirected graphs pass both orientations. Returns
    * (word, rank) for every node with at least one out-edge. */
  def rankWords(edges: DataFrame, iterations: Int, scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val wsum = edges.groupBy("src").agg(sum(col("w")).as("wsum"))
    val e = edges.join(wsum, Seq("src"))
      .select(col("src"), col("dst"), col("w"), col("wsum"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node set materialized ONCE (r16): every round's fold join
    // re-executed the distinct. The checkpoint keeps no partitioning under
    // AQE (see GraftBridge.localCheckpointCount), so each round's left join
    // still re-exchanges it
    val nodes = e.select(col("src").as("word")).distinct()
      .repartition(col("word")).sortWithinPartitions("word")
      .localCheckpoint(true)
    val base = 15L * scale / 100L
    var ranks = nodes.select(col("word"), lit(scale).as("r")).localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val contrib = e.join(ranks, col("src") === col("word"))
        .select(col("dst"), expr("r * w div wsum").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("csum"))
      ranks = nodes.join(contrib, col("word") === col("dst"), "left")
        .select(col("word"),
          (lit(base) + expr("85 * coalesce(csum, 0L) div 100")).as("r"))
        .localCheckpoint(true)
    }
    CacheScope.unpersistAfterUse(ranks, e)
  }
}
