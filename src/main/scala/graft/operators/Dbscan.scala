package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DBSCAN density clustering (Ester, Kriegel, Sander & Xu 1996) over the
  * shared spatial grid — the density-based clustering member of the ML
  * tier beside Lloyd k-means (centroid-based needs k up front;
  * density-based discovers cluster count and noise itself).
  *
  * Scale shape, end to end keyed:
  *  - ε-neighborhoods come from [[SpatialGrid.pairsWithin]]'s
  *    half-neighborhood grid EQUI-join (cell side = ε) — never an
  *    all-pairs frame;
  *  - core flags are ONE keyed neighbor count (core ⇔ |N_ε(p)| ≥ minPts,
  *    N including the point itself);
  *  - clusters are connected components ([[Dedup.connectedComponents]])
  *    over CORE-CORE pairs only — the vanishing-fraction pair graph,
  *    O(log n) rounds;
  *  - border points (non-core within ε of a core) are assigned to their
  *    MINIMUM core-neighbor's cluster — the deterministic tie-break the
  *    original algorithm leaves order-dependent;
  *  - everything is exact integers, so the output hash-gates.
  *
  * Reference behavioral anchor: artie-labs/reader has no clustering; this
  * lane exists for the training-data-pipeline tier (density-based corpus
  * structure/outlier discovery). */
object Dbscan {

  /** Per-point labels: (id, cluster, is_core) for clustered points —
    * noise points are absent (cluster membership only).
    *
    * @param pts (id, x, y, cx, cy) with cell side = eps
    *            (from [[SpatialGrid.points]] or equivalent)
    * @param eps ε radius; MUST equal the grid cell side used to build pts
    * @param minPts core threshold, |N_ε(p)| ≥ minPts with p ∈ N_ε(p) */
  def labels(pts: DataFrame, eps: Long, minPts: Int): DataFrame = {
    val pairs = SpatialGrid.pairsWithin(pts, eps).localCheckpoint(true)
    val und = pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
      .union(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
    val core = und.groupBy("id").agg(count(lit(1)).as("n_nb"))
      .where(col("n_nb") >= (minPts - 1).toLong).select("id").localCheckpoint(true)
    val ccEdges = pairs
      .join(core.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
      .join(core.select(col("id").as("b_id")), Seq("b_id"), "left_semi")
    val ccLabels = Dedup.connectedComponents(ccEdges, "a_id", "b_id")
      .select(col("v").as("id"), col("cluster"))
    // a core with no CORE neighbor anchors its own singleton cluster
    val coreLabels = core.join(ccLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
      .localCheckpoint(true)
    val borderLabels = und
      .join(core, Seq("id"), "left_anti")
      .join(coreLabels.select(col("id").as("nb"), col("cluster")), Seq("nb"))
      .groupBy("id").agg(min("cluster").as("cluster"))
    coreLabels.withColumn("is_core", lit(true))
      .union(borderLabels.withColumn("is_core", lit(false)))
  }

  /** Per-cluster census (cluster_id, n_core, n_border, n_total) plus ONE
    * noise row as cluster_id = -1 (n_core = n_border = 0) — the compact
    * "how many dense regions, how much scatter" view. */
  def census(pts: DataFrame, eps: Long, minPts: Int): DataFrame = {
    val lab = labels(pts, eps, minPts)
    val clusters = lab.groupBy("cluster")
      .agg(sum(when(col("is_core"), 1L).otherwise(0L)).as("n_core"),
        sum(when(col("is_core"), 0L).otherwise(1L)).as("n_border"))
      .select(col("cluster").cast("long").as("cluster_id"), col("n_core"),
        col("n_border"), (col("n_core") + col("n_border")).as("n_total"))
    val noise = pts.select("id")
      .join(lab.select("id"), Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_noise"))
      .select(lit(-1L).as("cluster_id"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), col("n_noise").as("n_total"))
    clusters.unionByName(noise).orderBy("cluster_id")
  }
}
