package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source BFS hop distances over a directed edge table — the
  * reachability/shortest-hop member of the graph tier (undirected CC,
  * incremental CC, triangles, TextRank, SCC).
  *
  * The state is ONE (node, dist) row per vertex, dist NULL until
  * discovered, run through the shared partition-resident delta fold
  * (Fixpoint.deltaFold) with combine `min` and +1 per hop. min over
  * predecessors is monotone and label-correcting: a node's first message
  * arrives exactly at its true hop distance (its dist-(d-1) predecessor
  * entered the changed set the step before), so labels are set once and
  * never revised. A round costs one Spark job and the steps' shuffles
  * carry only the frontier's messages.
  *
  * Propagation is restricted to the `nodes` vertex set: a hash-derived
  * edge target outside it (a "phantom" id) is dropped at the fold rather
  * than carried to the end — identical results for every declared graph
  * lane, where only real nodes have out-edges (edge src is always drawn
  * from `nodes`).
  */
object Bfs {

  /** MULTI-source BFS: hop distances from every source in ONE BSP loop —
    * the state is (s, node, dist) rows keyed on (s, node) and placed by
    * node alone, so a node's k rows sit beside its out-edges and k
    * sources cost one loop whose rounds track the UNION of the k
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
    run(seed, edges, maxIters, "multi-BFS")
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
    val seed = nodes.select(col("node"),
      when(col("node") === lit(source), lit(0L)).as("dist"),
      (col("node") === lit(source)).as("chg"))
    run(seed, edges, maxIters, "BFS")
  }

  /** The fold over a ([s,] node, dist, chg) seed: min(dist) + 1 per hop,
    * per `s` key; reachable rows only. */
  private def run(seed: DataFrame, edges: DataFrame, maxIters: Int, what: String): DataFrame =
    Fixpoint.deltaFold(seed, edges, Fixpoint.Min, 1L, maxIters,
      s"$what did not converge in $maxIters rounds")
}
