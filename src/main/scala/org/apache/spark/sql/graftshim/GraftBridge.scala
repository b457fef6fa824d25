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
    * already knew. This is the same materialization with the counts kept:
    * execute the plan once, `localCheckpoint()` the internal RDD, run ONE
    * action that both materializes the cached blocks and aggregates
    * (row count, true-count of `boolCol` if given), then rebuild the
    * DataFrame through `LogicalRDD.fromDataset` — the same constructor
    * `Dataset.checkpoint` uses. That constructor copies the executed plan's
    * outputPartitioning / outputOrdering, but with AQE on the executed plan
    * is the `AdaptiveSparkPlanExec` wrapper, which reports neither: the
    * checkpointed frame scans as `Scan ExistingRDD … UnknownPartitioning(0)`,
    * exactly as after the public `localCheckpoint`, and a join keyed on it
    * re-exchanges it. A layout built before the checkpoint does not survive
    * it.
    *
    * Returns (checkpointed df, row count, rows with boolCol = true —
    * 0 when boolCol is None). */
  def localCheckpointCount(
      df: DataFrame,
      boolCol: Option[String] = None): (DataFrame, Long, Long) = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val idx = boolCol.map(ds.schema.fieldIndex).getOrElse(-1)
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    // one job: materializes the local checkpoint (runJob triggers
    // doCheckpoint on the lineage) AND folds both counts
    val (n, nTrue) = rdd.mapPartitions { it =>
      var a = 0L
      var b = 0L
      it.foreach { r =>
        a += 1L
        if (idx >= 0 && !r.isNullAt(idx) && r.getBoolean(idx)) b += 1L
      }
      Iterator.single((a, b))
    }.fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    val logical = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    (ClassicDataset.ofRows(ds.sparkSession, logical), n, nTrue)
  }

  /** Set-checksum variant for the star-CC fixpoint: one materialization
    * job returning (row count, bit-XOR of `longCol`) — the same
    * (count, bit_xor) pair the loop previously recomputed with a second
    * whole-frame aggregate per round. NULLs are skipped, matching
    * `bit_xor`'s null-ignoring aggregate semantics. */
  def localCheckpointXor(df: DataFrame, longCol: String): (DataFrame, Long, Long) = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val idx = ds.schema.fieldIndex(longCol)
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val (n, x) = rdd.mapPartitions { it =>
      var a = 0L
      var b = 0L
      it.foreach { r =>
        a += 1L
        if (!r.isNullAt(idx)) b ^= r.getLong(idx)
      }
      Iterator.single((a, b))
    }.fold((0L, 0L))((p, q) => (p._1 + q._1, p._2 ^ q._2))
    val logical = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    (ClassicDataset.ofRows(ds.sparkSession, logical), n, x)
  }
}
