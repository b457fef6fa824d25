package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DagLevels

/** Max-relaxation DAG levels pinned against a driver-side topological DP
  * (edges always i < j, so index order IS a topological order), plus the
  * cycle-guard contract. */
class DagLevelsSpec extends AnyFunSuite {
  import TestSpark._

  /** Edges with an endpoint outside 0 until n (phantom ids) carry nothing,
    * as in the operator. */
  private def reference(n: Int, allEdges: Seq[(Int, Int)]): Map[Long, Long] = {
    val edges = allEdges.filter { case (a, b) => a < n && b < n }
    val lvl = Array.fill(n)(0L)
    for ((a, b) <- edges.sortBy(_._1); if lvl(b) < lvl(a) + 1) lvl(b) = lvl(a) + 1
    // i < j edges processed in src order is a valid topological sweep only
    // if every predecessor is finalized first — iterate to fixpoint to be
    // safe against equal-src ordering artifacts
    var changed = true
    while (changed) {
      changed = false
      for ((a, b) <- edges if lvl(b) < lvl(a) + 1) { lvl(b) = lvl(a) + 1; changed = true }
    }
    (0 until n).map(i => i.toLong -> lvl(i)).toMap
  }

  private def run(n: Int, edges: Seq[(Int, Int)]): Map[Long, Long] = {
    import TestSpark.spark.implicits._
    val nodesDf = (0 until n).map(_.toLong).toDF("node")
    val edgesDf = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    DagLevels.levels(nodesDf, edgesDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches topological DP on random DAGs, chains and diamonds") {
    val rnd = new scala.util.Random(41)
    val shapes: Seq[(Int, Seq[(Int, Int)])] = Seq(
      { val n = 50; (n, Seq.fill(120)((rnd.nextInt(n), rnd.nextInt(n)))
        .filter(e => e._1 < e._2).distinct) },
      // odd-length chain (exercises the double-step half-round)
      (16, (0 until 15).map(i => (i, i + 1))),
      // diamond with a long arm: level(sink) must take the LONG path
      (7, Seq((0, 1), (1, 6), (0, 2), (2, 3), (3, 4), (4, 5), (5, 6))),
      // isolated nodes only
      (5, Nil),
      // one-node graph
      (1, Nil),
      // empty node set
      (0, Nil),
      // duplicate edges, and edges from and to phantom ids (a phantom
      // source never sends; a message to a phantom target is dropped)
      (6, Seq((0, 1), (0, 1), (1, 2), (1, 2), (2, 9), (9, 3), (3, 4), (4, 12))))
    for (((n, edges), si) <- shapes.zipWithIndex) {
      val expect = reference(n, edges)
      assert(run(n, edges) === expect, s"shape $si")
      // more shuffle partitions than nodes leaves partitions empty
      if (n < 16) assert(withShufflePartitions(16)(run(n, edges)) === expect, s"shape $si, 16 parts")
    }
  }

  test("a cycle fails the guard loudly instead of looping") {
    intercept[IllegalArgumentException] {
      run(3, Seq((0, 1), (1, 2), (2, 0)))
    }
    // a self-loop is a cycle of length one
    intercept[IllegalArgumentException] {
      run(3, Seq((0, 1), (1, 1), (1, 2)))
    }
  }
}
