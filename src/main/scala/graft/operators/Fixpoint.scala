package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.GraftBridge

/** The delta-fold BSP fixpoint shared by Bfs, DagLevels and Scc's coloring
  * and backward-mark phases. The state is one frame over the vertex set;
  * a step pushes only the rows that changed in the previous step one hop
  * and folds the result back into the state with a left join, marking the
  * rows it changed in a boolean `chg` column. This is correct for any
  * monotone, idempotent fold (min, max, or): a row's outgoing
  * contribution needs re-pushing only in the step after it changed.
  *
  * DOUBLE-STEPPED (measured on the Scc fixpoints: on diameter-many
  * metadata-scale shuffles the per-round fixed overhead — materialization,
  * count job, scheduling — dominates, so two steps per checkpoint nearly
  * halve wall time). A round whose second step changes nothing is a true
  * fixpoint: the first step's changes are in the folded frame and their
  * push produced no further change. Each round pays ONE job: the
  * checkpoint and the changed-row count share it (see
  * GraftBridge.localCheckpointCount). */
private[operators] object Fixpoint {

  /** @param seed the state `cols` plus a boolean `chg` column marking the
    *   rows the first step pushes
    * @param cols the state columns
    * @param maxIters rounds after which the loop fails instead of going on
    * @param failure the message it fails with
    * @param step (state, changed rows) => the folded state: `cols` + `chg`
    * @return the converged state, `cols` only */
  def deltaFold(seed: DataFrame, cols: Seq[String], maxIters: Int, failure: String)(
      step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val cs = cols.map(col)
    def fold(f: DataFrame): DataFrame =
      step(f.select(cs: _*), f.where(col("chg")).select(cs: _*))
    var (state, _, changedCount) = GraftBridge.localCheckpointCount(seed, Some("chg"))
    var rounds = 0
    while (changedCount > 0) {
      val (next, _, n) = GraftBridge.localCheckpointCount(fold(fold(state)), Some("chg"))
      state = next
      changedCount = n
      rounds += 1
      require(rounds < maxIters, failure)
    }
    state.select(cs: _*)
  }
}
