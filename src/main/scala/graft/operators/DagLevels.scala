package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Longest-path levels over a DAG — the second half of graph
  * condensation: contract SCCs (Scc.components), then rank the condensed
  * DAG by critical-path depth (level(v) = length of the longest path from
  * any source to v). Longest path is NP-hard on general graphs but linear
  * on DAGs; the distributed form is Bellman-Ford-style max-relaxation to
  * fixpoint through the shared double-stepped delta fold
  * (Fixpoint.deltaFold): max-relaxation is monotone and idempotent, so a
  * node's outgoing contribution needs re-pushing only in the round after
  * its level changed. Each round pushes only the changed set's levels one
  * hop (twice) and folds them into the level frame with a left join,
  * which re-exchanges the state (the checkpoint keeps no partitioning
  * under AQE; see GraftBridge.localCheckpointCount). Convergence in
  * ⌈depth/2⌉ rounds; a CYCLE would diverge — the maxIters guard turns
  * that into a loud failure rather than an infinite loop, which is the
  * correct behavior for an operator whose contract is acyclic input. */
object DagLevels {

  /** @param nodes (node: long) — DAG vertex set
    * @param edges (src, dst: long) — DAG edges (acyclic; cycles fail the
    *   maxIters guard)
    * @return (node, level: long) — longest-path depth from any source */
  def levels(nodes: DataFrame, edges: DataFrame, maxIters: Int = 60): DataFrame = {
    val es = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    // one delta relaxation: push level+1 from the changed set, fold max
    // into the state; chg marks nodes whose level actually grew
    def relax(l: DataFrame, ch: DataFrame): DataFrame = {
      val pushed = es
        .join(ch.select(col("node").as("src"), col("level")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(max(col("level") + 1L).as("plvl"))
      l.join(pushed, Seq("node"), "left")
        .select(col("node"),
          greatest(col("level"), coalesce(col("plvl"), col("level"))).as("level"),
          (coalesce(col("plvl"), col("level")) > col("level")).as("chg"))
    }
    Fixpoint.deltaFold(
        nodes.select(col("node"), lit(0L).as("level"), lit(true).as("chg")),
        Seq("node", "level"), maxIters,
        s"DAG level relaxation did not converge in $maxIters rounds — cyclic input?")(relax)
  }
}
