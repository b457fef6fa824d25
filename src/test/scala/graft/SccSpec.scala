package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scc

/** FW-BW-Trim SCC pinned against a driver-side iterative Tarjan on random
  * graphs of several shapes (sparse random, functional rho-graphs with
  * dead ends, dense cyclic) — the component partition must match exactly,
  * with canonical min-member ids. */
class SccSpec extends AnyFunSuite {
  import TestSpark._

  /** Iterative Tarjan (explicit stacks). Returns node -> min member of
    * its SCC. */
  private def tarjan(n: Int, adj: Map[Int, Seq[Int]]): Map[Int, Int] = {
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = Array.fill(n)(false)
    val stack = scala.collection.mutable.Stack[Int]()
    var counter = 0
    val comp = new Array[Int](n)
    java.util.Arrays.fill(comp, -1)
    for (root <- 0 until n if index(root) == -1) {
      // work stack of (node, next-child-pointer)
      val work = scala.collection.mutable.Stack[(Int, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, ci) = work.pop()
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack(v) = true
        }
        val children = adj.getOrElse(v, Nil)
        var advanced = false
        var i = ci
        while (i < children.length && !advanced) {
          val w = children(i)
          if (index(w) == -1) {
            work.push((v, i + 1)); work.push((w, 0)); advanced = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!advanced) {
          if (low(v) == index(v)) {
            var members = List.empty[Int]
            var w = -1
            while (w != v) { w = stack.pop(); onStack(w) = false; members ::= w }
            val m = members.min
            members.foreach(comp(_) = m)
          }
          // propagate low to parent
          if (work.nonEmpty) {
            val (p, pi) = work.top
            low(p) = math.min(low(p), low(v))
            val _ = (p, pi)
          }
        }
      }
    }
    (0 until n).map(v => v -> comp(v)).toMap
  }

  private def run(n: Int, edges: Seq[(Int, Int)], localBelow: Long = 0L): Map[Long, Long] = {
    import TestSpark.spark.implicits._
    val nodesDf = (0 until n).map(_.toLong).toDF("node")
    val edgesDf = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    // localFinishBelow = 0 forces the fully-distributed path; the hybrid
    // test passes a positive threshold explicitly
    Scc.components(nodesDf, edgesDf, localFinishBelow = localBelow)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches Tarjan on random sparse, functional-with-deadends and dense graphs") {
    val rnd = new scala.util.Random(67)
    val shapes: Seq[(Int, Seq[(Int, Int)])] = Seq(
      // sparse random
      { val n = 60; (n, Seq.fill(90)((rnd.nextInt(n), rnd.nextInt(n))).filter(e => e._1 != e._2)) },
      // functional rho shape + dead ends (no out-edges for v % 5 == 0)
      { val n = 80
        (n, (0 until n).filter(_ % 5 != 0).flatMap(v =>
          Seq((v, rnd.nextInt(n)), (v, rnd.nextInt(n))).filter(e => e._1 != e._2))) },
      // dense cyclic
      { val n = 25; (n, Seq.fill(200)((rnd.nextInt(n), rnd.nextInt(n))).filter(e => e._1 != e._2)) },
      // pure DAG (every SCC a singleton; trim must do all the work)
      { val n = 40; (n, Seq.fill(80)((rnd.nextInt(n), rnd.nextInt(n)))
        .filter(e => e._1 < e._2)) },
      // two disjoint cycles joined by a bridge
      { val n = 12
        (n, (0 until 5).map(i => (i, (i + 1) % 5)) ++
          (6 until 11).map(i => (i, if (i == 10) 6 else i + 1)) ++ Seq((4, 6))) },
      // one-node graph
      (1, Nil),
      // empty node set
      (0, Nil),
      // duplicate edges and self-loops on a cycle, a self-looped
      // singleton and edges to and from phantom ids
      (8, Seq((0, 1), (0, 1), (1, 2), (2, 0), (2, 0), (1, 1), (3, 3), (3, 4),
        (4, 20), (20, 5), (5, 6), (6, 5), (6, 6))))
    for (((n, edges), si) <- shapes.zipWithIndex) {
      // Tarjan on the graph without its phantom-id edges
      val adj = edges.distinct.filter { case (a, b) => a < n && b < n }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val expect = tarjan(n, adj).map { case (k, v) => k.toLong -> v.toLong }
      assert(run(n, edges) === expect, s"shape $si")
      // more shuffle partitions than nodes leaves partitions empty
      if (n < 16) assert(withShufflePartitions(16)(run(n, edges)) === expect, s"shape $si, 16 parts")
    }
  }

  test("hybrid local finish equals the fully-distributed result") {
    val rnd = new scala.util.Random(71)
    val n = 120
    val edges = (0 until n).filter(_ % 4 != 0).flatMap(v =>
      Seq((v, rnd.nextInt(n)), (v, rnd.nextInt(n))).filter(e => e._1 != e._2)).distinct
    // threshold 40: the giant SCC extracts distributively, the residue
    // finishes driver-side; must equal the forced-distributed partition
    assert(run(n, edges, localBelow = 40L) === run(n, edges, localBelow = 0L))
    // threshold above n: pure local Tarjan; same partition again
    assert(run(n, edges, localBelow = 1000L) === run(n, edges, localBelow = 0L))
  }
}
