package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bfs

/** Delta-fold double-stepped BFS pinned against a driver-side queue BFS on
  * several graph shapes — distances must match exactly, unreachable nodes
  * must be absent, and phantom edge targets (ids outside the node set)
  * must be dropped. */
class BfsSpec extends AnyFunSuite {
  import TestSpark._

  private def reference(n: Int, edges: Seq[(Int, Int)], src: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = scala.collection.mutable.Map.empty[Int, Long]
    val q = scala.collection.mutable.Queue.empty[Int]
    if (src < n) { dist(src) = 0L; q.enqueue(src) }
    while (q.nonEmpty) {
      val v = q.dequeue()
      for (w <- adj.getOrElse(v, Nil) if w < n && !dist.contains(w)) {
        dist(w) = dist(v) + 1; q.enqueue(w)
      }
    }
    dist.map { case (k, v) => k.toLong -> v }.toMap
  }

  /** Runs both entry points; distancesMulti with one source must return
    * the same labels as distances. */
  private def run(n: Int, edges: Seq[(Int, Int)], src: Int): Map[Long, Long] = {
    import TestSpark.spark.implicits._
    val nodesDf = (0 until n).map(_.toLong).toDF("node")
    val edgesDf = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    val single = Bfs.distances(nodesDf, edgesDf, src.toLong)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val multi = Bfs.distancesMulti(nodesDf, edgesDf, Seq(src.toLong))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(multi === single.map { case (v, d) => (src.toLong, v) -> d })
    single
  }

  test("matches queue BFS on random, chain and disconnected shapes") {
    val rnd = new scala.util.Random(53)
    val shapes: Seq[(Int, Seq[(Int, Int)], Int)] = Seq(
      // sparse random digraph
      { val n = 70; (n, Seq.fill(120)((rnd.nextInt(n), rnd.nextInt(n))).filter(e => e._1 != e._2).distinct, 1) },
      // long chain: odd diameter exercises the half-step of double-stepping
      { val n = 31; (n, (0 until 30).map(i => (i, i + 1)), 0) },
      // even-length chain
      { val n = 21; (n, (0 until 20).map(i => (i, i + 1)), 0) },
      // source with no out-edges: singleton result
      { val n = 10; (n, Seq((1, 2), (2, 3)), 5) },
      // disconnected component + phantom edge targets outside the node set
      { val n = 12; (n, Seq((0, 1), (1, 2), (2, 15), (8, 9), (9, 10)), 0) },
      // one-node graph
      (1, Nil, 0),
      // empty node set: the source is not a node, nothing is reached
      (0, Nil, 0),
      // duplicate edges, self-loops and edges from and to phantom ids
      { val n = 9; (n, Seq((0, 1), (0, 1), (1, 1), (1, 2), (2, 2), (2, 0), (2, 30),
        (30, 3), (4, 5), (5, 5)), 0) })
    for (((n, edges, src) , si) <- shapes.zipWithIndex) {
      // reference drops phantom targets (w < n) exactly like the operator
      val expect = reference(n, edges, src)
      assert(run(n, edges, src) === expect, s"shape $si")
      // more shuffle partitions than nodes leaves partitions empty
      if (n < 16)
        assert(withShufflePartitions(16)(run(n, edges, src)) === expect, s"shape $si, 16 parts")
    }
  }

  test("a chain longer than maxIters allows fails the guard loudly") {
    import TestSpark.spark.implicits._
    // 11 hops need 6 double-stepped rounds; maxIters = 3 stops after 3
    val nodesDf = (0L until 12L).toDF("node")
    val edgesDf = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val single = intercept[IllegalArgumentException] {
      Bfs.distances(nodesDf, edgesDf, 0L, maxIters = 3)
    }
    assert(single.getMessage.contains("did not converge"))
    val multi = intercept[IllegalArgumentException] {
      Bfs.distancesMulti(nodesDf, edgesDf, Seq(0L, 1L), maxIters = 3)
    }
    assert(multi.getMessage.contains("did not converge"))
  }
}
