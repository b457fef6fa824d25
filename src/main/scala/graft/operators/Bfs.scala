package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source BFS hop distances over a directed edge table — the
  * reachability/shortest-hop member of the graph tier (undirected CC,
  * incremental CC, triangles, TextRank, SCC).
  *
  * FOLD FORM (r15, the Scc-coloring discipline brought to BFS): the state
  * is ONE (node, dist) frame over the vertex set, dist NULL until
  * discovered, run through the shared double-stepped delta fold
  * (Fixpoint.deltaFold); each hop folds the pushed frontier minima into it
  * with one left join, which re-exchanges the state (the checkpoint keeps
  * no partitioning under AQE; see GraftBridge.localCheckpointCount). min
  * over predecessors is monotone and label-correcting: a node's first push
  * arrives exactly at its true hop distance (its dist-(d-1) predecessor
  * entered the changed set the half-step before), so labels are set once
  * and never revised.
  *
  * This replaces the r14/early-r15 frontier+anti-join form, which paid per
  * round: two hop-distinct shuffles, two anti-joins, THREE checkpoints and
  * a full repartition+sort rebuild of the visited set. The fold form pays
  * ONE checkpoint + one count per double-step: the same rounds and about
  * half the jobs.
  *
  * Propagation is restricted to the `nodes` vertex set: a hash-derived
  * edge target outside it (a "phantom" id) is dropped at the fold rather
  * than carried to the end — identical results for every declared graph
  * lane, where only real nodes have out-edges (edge src is always drawn
  * from `nodes`), and the phantom sinks were dropped by the final
  * semi-join anyway.
  */
object Bfs {

  /** MULTI-source BFS: hop distances from every source in ONE BSP loop —
    * the state is (s, node, dist) rows and the fold keys on (s, node), so
    * k sources cost one loop whose rounds track the UNION of the k
    * frontiers, not k separate loops of diameter-many fixed round
    * overheads each (the closeness-centrality shape: k traversals
    * amortized into one). The source dimension rides an explode (no join).
    *
    * @param sources distinct BFS roots (must be in `nodes`)
    * @return (s, node, dist): distance from source s to node, reachable
    *   pairs only */
  def distancesMulti(nodes: DataFrame, edges: DataFrame, sources: Seq[Long],
      maxIters: Int = 40): DataFrame = {
    require(sources.nonEmpty && sources.distinct.size == sources.size)
    val seed = nodes.select(col("node"), explode(array(sources.map(lit(_)): _*)).as("s"))
      .select(col("s"), col("node"),
        when(col("node") === col("s"), lit(0L)).as("dist"),
        (col("node") === col("s")).as("chg"))
    run(seed, Seq("s"), edges, maxIters, "multi-BFS")
  }

  /** @param nodes (node: long) — vertex set; discovered ids outside it are
    *   dropped (hash-derived edge tables may point at phantom ids)
    * @param edges (src, dst: long) — directed edges
    * @param source BFS root
    * @return (node, dist: long) for REACHABLE nodes only, dist = hop count */
  def distances(
      nodes: DataFrame,
      edges: DataFrame,
      source: Long,
      maxIters: Int = 40): DataFrame = {
    // keyed on node alone: routing one source through distancesMulti's
    // (s, node) state and explode raised the perfbench `analytics` live
    // heap by 13 MB (+11 %) on a 4-core machine
    val seed = nodes.select(col("node"),
      when(col("node") === lit(source), lit(0L)).as("dist"),
      (col("node") === lit(source)).as("chg"))
    run(seed, Nil, edges, maxIters, "BFS")
  }

  /** The fold over a (by…, node, dist, chg) seed: one hop pushes
    * min(dist)+1 from the changed rows along the edges, per `by` key, and
    * folds it into the state; chg marks first-time discoveries only. */
  private def run(seed: DataFrame, by: Seq[String], edges: DataFrame,
      maxIters: Int, what: String): DataFrame = {
    val key = by :+ "node"
    val es = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    def hop(d: DataFrame, ch: DataFrame): DataFrame = {
      val pushed = es
        .join(ch.select(by.map(col) :+ col("node").as("src") :+ col("dist"): _*), Seq("src"))
        .groupBy(by.map(col) :+ col("dst").as("node"): _*).agg(min(col("dist")).as("pd"))
      d.join(pushed, key, "left")
        .select(key.map(col) ++ Seq(
          coalesce(col("dist"), col("pd") + 1L).as("dist"),
          (col("dist").isNull && col("pd").isNotNull).as("chg")): _*)
    }
    Fixpoint.deltaFold(seed, key :+ "dist", maxIters,
        s"$what did not converge in $maxIters rounds")(hop)
      .where(col("dist").isNotNull)
  }
}
