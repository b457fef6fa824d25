package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bfs, DagLevels, Dedup}

/** Structural guards on the partition-resident fixpoints: on a chain of L
  * nodes (H = L - 1 hops) Bfs.distances from the head and DagLevels.levels
  * both converge in exactly H / 2 + 1 double-stepped rounds, connected
  * components in at most 2 * ceil(log2 L) rounds whatever the order of the
  * ids along the chain, and each round is ONE Spark job on top of a set-up
  * that does not grow with the chain. */
class FixpointRoundsSpec extends AnyFunSuite {
  import TestSpark._

  /** Spark jobs started while `body` runs. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  private val operators: Seq[(String, (DataFrame, DataFrame, Int) => DataFrame)] = Seq(
    "Bfs.distances" -> ((n, e, m) => Bfs.distances(n, e, 0L, maxIters = m)),
    "DagLevels.levels" -> ((n, e, m) => DagLevels.levels(n, e, maxIters = m)))

  test("a chain converges in its known round count, one job per round") {
    import TestSpark.spark.implicits._
    for ((name, op) <- operators) {
      val setup = for (len <- Seq(8, 13, 30)) yield {
        val nodes = (0L until len).toDF("node")
        val edges = (0L until len - 1).map(i => (i, i + 1)).toDF("src", "dst")
        val rounds = (len - 1) / 2 + 1
        // the guard fails when the last needed round reaches maxIters
        intercept[IllegalArgumentException](op(nodes, edges, rounds))
        val (got, n) = jobs {
          op(nodes, edges, rounds + 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        // head-rooted hop distance and longest-path level both equal i
        assert(got === (0L until len).map(i => i -> i).toMap, s"$name, L = $len")
        n - rounds
      }
      // set-up and the result's collect: a fixed number of jobs
      assert(setup.distinct.size === 1, s"$name: jobs beyond one per round $setup")
      assert(setup.head <= 3, s"$name: set-up jobs ${setup.head}")
    }
  }

  test("connected components of an ordered or permuted chain take O(log L) rounds, one job per round") {
    import TestSpark.spark.implicits._
    val rnd = new scala.util.Random(20200L)
    for (len <- Seq(30, 1000); shuffled <- Seq(false, true, true)) {
      val ids = if (shuffled) rnd.shuffle((0L until len).toVector) else (0L until len).toVector
      val pairs = ids.zip(ids.tail).toDF("a", "b")
      def run(maxIter: Int): Map[Long, Long] =
        Dedup.connectedComponents(pairs, "a", "b", maxIter)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bound = 2 * (32 - Integer.numberOfLeadingZeros(len - 1)) // 2 * ceil(log2 L)
      // the guard fails when the last needed round reaches maxIter
      val (got, n) = jobs(run(bound + 1))
      assert(got === ids.map(_ -> 0L).toMap, s"L = $len")
      // set-up and the result's collect are two jobs, every round one: the
      // guard trips at exactly the rounds counted that way
      val rounds = n - 2
      val what = s"L = $len, shuffled = $shuffled, $n jobs"
      assert(rounds >= 1 && rounds <= bound, what)
      intercept[IllegalArgumentException](run(rounds))
      if (rounds < bound) assert(run(rounds + 1) === got, what)
    }
  }
}
