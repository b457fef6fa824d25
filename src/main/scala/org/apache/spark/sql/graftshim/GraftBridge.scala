package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into Spark's classic Column <-> Expression converters,
  * which are `private[sql]` in Spark 4. This is the supported-by-convention
  * extension point for libraries that ship custom Catalyst expressions
  * without going through a FunctionRegistry round-trip.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.localCheckpoint(eager = true)` materializes through an
    * internal `rdd.count()` whose value the public API DISCARDS; a BSP
    * fixpoint loop that converges on a row count then pays a SECOND
    * whole-frame job every round to re-learn what the materialization job
    * already knew. This is the same materialization with the count kept:
    * execute the plan once, `localCheckpoint()` the internal RDD, run ONE
    * action, a `count()`, that both materializes the cached blocks and
    * counts their rows, and then rebuild the
    * DataFrame through `LogicalRDD.fromDataset` — the same constructor
    * `Dataset.checkpoint` uses. That constructor copies the executed plan's
    * outputPartitioning / outputOrdering, but with AQE on the executed plan
    * is the `AdaptiveSparkPlanExec` wrapper, which reports neither: the
    * checkpointed frame scans as `Scan ExistingRDD … UnknownPartitioning(0)`,
    * exactly as after the public `localCheckpoint`, and a join keyed on it
    * re-exchanges it. A layout built before the checkpoint does not survive
    * it.
    *
    * Returns (checkpointed df, row count). */
  def localCheckpointCount(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    // one job: materializes the local checkpoint (runJob triggers
    // doCheckpoint on the lineage) and counts the rows
    val n = rdd.count()
    val logical = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    (ClassicDataset.ofRows(ds.sparkSession, logical), n)
  }
}
