package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Longest-path levels over a DAG — the second half of graph
  * condensation: contract SCCs (Scc.components), then rank the condensed
  * DAG by critical-path depth (level(v) = length of the longest path from
  * any source to v). Longest path is NP-hard on general graphs but linear
  * on DAGs; the distributed form is Bellman-Ford-style max-relaxation to
  * fixpoint through the shared partition-resident delta fold
  * (Fixpoint.deltaFold) with combine `max` and +1 per hop:
  * max-relaxation is monotone and idempotent, so a node's outgoing
  * contribution needs re-pushing only in the step after its level
  * changed. Convergence in ⌊depth/2⌋ + 1 rounds; a CYCLE would diverge —
  * the maxIters guard turns that into a loud failure rather than an
  * infinite loop, which is the correct behavior for an operator whose
  * contract is acyclic input. */
object DagLevels {

  /** @param nodes (node: long) — DAG vertex set
    * @param edges (src, dst: long) — DAG edges (acyclic; cycles fail the
    *   maxIters guard)
    * @return (node, level: long) — longest-path depth from any source */
  def levels(nodes: DataFrame, edges: DataFrame, maxIters: Int = 60): DataFrame =
    Fixpoint.deltaFold(
      nodes.select(col("node"), lit(0L).as("level"), lit(true).as("chg")),
      edges, Fixpoint.Max, 1L, maxIters,
      s"DAG level relaxation did not converge in $maxIters rounds — cyclic input?")
}
