package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftBridge

/** Single-source BFS hop distances over a directed edge table — the
  * reachability/shortest-hop member of the graph tier (undirected CC,
  * incremental CC, triangles, TextRank, SCC).
  *
  * FOLD FORM (r15, the Scc-coloring discipline brought to BFS): the state
  * is ONE (node, dist) frame over the vertex set, dist NULL until
  * discovered, re-checkpointed once per double-step; each hop folds the
  * pushed frontier minima into it with one left join. The seed frame is
  * built hash-partitioned and sorted on the fold key, but that layout does
  * not survive the checkpoint (with AQE on, the checkpointed frame reports
  * UnknownPartitioning(0); see GraftBridge.localCheckpointCount), so the
  * fold join re-exchanges the state on every hop. min over predecessors is
  * monotone and label-correcting: a node's first push arrives exactly at
  * its true hop distance (its dist-(d-1) predecessor entered the changed
  * set the half-step before), so labels are set once and never revised.
  *
  * This replaces the r14/early-r15 frontier+anti-join form, which paid per
  * round: two hop-distinct shuffles, two anti-joins, THREE checkpoints and
  * a full repartition+sort rebuild of the visited set. The fold form pays
  * ONE checkpoint + one count per double-step: the same rounds and about
  * half the jobs.
  *
  * DOUBLE-STEPPED like both Scc fixpoints (measured finding there: on
  * diameter-many metadata-scale shuffles the per-round fixed overhead —
  * materialization, count job, scheduling — dominates, so two hops per
  * checkpoint nearly halves wall time).
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
    * amortized into one). Same fold/double-step discipline as `distances`.
    *
    * @param sources distinct BFS roots (must be in `nodes`)
    * @return (s, node, dist): distance from source s to node, reachable
    *   pairs only */
  def distancesMulti(nodes: DataFrame, edges: DataFrame, sources: Seq[Long],
      maxIters: Int = 40): DataFrame = {
    require(sources.nonEmpty && sources.distinct.size == sources.size)
    val es = edges.select(col("src").as("u"), col("dst").as("v"))
      .distinct().localCheckpoint(true)
    // state: one row per (source, node); dist NULL = undiscovered. The
    // source dimension rides an explode (no join), and the frame is
    // partitioned+sorted on the fold key once — every later fold
    // preserves that layout through the checkpoint.
    // FUSED materialize+count (r16): localCheckpoint(true)'s internal
    // count is discarded by the public API, so every round paid a second
    // whole-frame job for its convergence signal — the bridge returns the
    // counts from the materialization job itself (see GraftBridge).
    val (d0, _, seed0) = GraftBridge.localCheckpointCount(
      nodes.select(col("node"),
          explode(array(sources.map(lit(_)): _*)).as("s"))
        .select(col("s"), col("node"),
          when(col("node") === col("s"), lit(0L)).as("dist"),
          (col("node") === col("s")).as("chg"))
        .repartition(col("s"), col("node")).sortWithinPartitions("s", "node"),
      Some("chg"))
    var dists = d0
    var changed = dists.where(col("chg")).select("s", "node", "dist")
    var changedCount = seed0
    // one hop: push min(dist)+1 from the changed set along edges, fold
    // into the state; chg marks first-time discoveries only
    def step(d: DataFrame, ch: DataFrame): DataFrame = {
      val pushed = es
        .join(ch.select(col("node").as("u"), col("s"), col("dist")), Seq("u"))
        .groupBy(col("s"), col("v").as("node")).agg(min(col("dist")).as("pd"))
      d.join(pushed, Seq("s", "node"), "left")
        .select(col("s"), col("node"),
          coalesce(col("dist"), col("pd") + 1L).as("dist"),
          (col("dist").isNull && col("pd").isNotNull).as("chg"))
    }
    var iter = 0
    while (changedCount > 0) {
      val f1 = step(dists.select("s", "node", "dist"),
        changed.select("s", "node", "dist"))
      val (f2, _, nChg) = GraftBridge.localCheckpointCount(
        step(f1.select("s", "node", "dist"),
          f1.where(col("chg")).select("s", "node", "dist")),
        Some("chg"))
      dists = f2
      changed = f2.where(col("chg")).select("s", "node", "dist")
      changedCount = nChg
      iter += 1
      require(iter < maxIters, s"multi-BFS did not converge in $maxIters rounds")
    }
    dists.where(col("dist").isNotNull).select("s", "node", "dist")
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
    val es = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    // fused materialize+count, as in distancesMulti
    val (d0, _, seed0) = GraftBridge.localCheckpointCount(
      nodes.select(col("node"),
          when(col("node") === lit(source), lit(0L)).as("dist"),
          (col("node") === lit(source)).as("chg"))
        .repartition(col("node")).sortWithinPartitions("node"),
      Some("chg"))
    var dists = d0
    var changed = dists.where(col("chg")).select("node", "dist")
    var changedCount = seed0
    def step(d: DataFrame, ch: DataFrame): DataFrame = {
      val pushed = es
        .join(ch.select(col("node").as("src"), col("dist")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(min(col("dist")).as("pd"))
      d.join(pushed, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("dist"), col("pd") + 1L).as("dist"),
          (col("dist").isNull && col("pd").isNotNull).as("chg"))
    }
    var iter = 0
    while (changedCount > 0) {
      val f1 = step(dists.select("node", "dist"), changed.select("node", "dist"))
      val (f2, _, nChg) = GraftBridge.localCheckpointCount(
        step(f1.select("node", "dist"),
          f1.where(col("chg")).select("node", "dist")),
        Some("chg"))
      dists = f2
      changed = f2.where(col("chg")).select("node", "dist")
      changedCount = nChg
      iter += 1
      require(iter < maxIters, s"BFS did not converge in $maxIters rounds")
    }
    dists.where(col("dist").isNotNull).select("node", "dist")
  }
}
